"""Aggregation operators (SURVEY.md §2.4, G1-G11).

Everything is a declarative groupBy/agg so Spark does map-side
partial aggregation automatically — at 100 TB the shuffle carries
partial aggregates, not rows. Skewed book groups (one 20-hour book
per ~50, BASELINE.md) are handled by AQE skew splitting; the
collect_list aggregations bound per-group state to file counts
(≤ hundreds), never raw audio.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vnavc_spark.operators.mergeable import Spec, distinct_merge, merge_by


def parts_by_book(
    df: DataFrame,
    book_col: str = "book_id",
    part_idx_col: str = "part_idx",
    path_col: str = "path",
) -> DataFrame:
    """G1: group part files per book, parts sorted by natural index
    (reference ``defaultdict(list)`` + regex sort,
    ``crawler/utils.py:85-122`` / ``process_all.py:540-610``).
    ``sort_array`` on struct(part_idx, path) gives deterministic
    order without a global sort."""
    return df.groupBy(book_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(part_idx_col), F.col(path_col)))
        ).alias("parts"),
        F.count("*").alias("n_parts"),
    )


def weighted_wer(
    df: DataFrame,
    group: str | list[str] = "book_id",
    errors_col: str = "word_errors",
    ref_words_col: str = "ref_words",
) -> DataFrame:
    """G6: corpus WER per book = sum(errors)/sum(ref words) × 100 —
    the weighted formulation that matches ``jiwer.wer`` over a list
    of references (``whisper_qc.py:322-329``), NOT a mean of per-row
    WERs."""
    groups = [group] if isinstance(group, str) else group
    return df.groupBy(*groups).agg(
        (
            F.sum(errors_col).cast("double")
            / F.sum(ref_words_col).cast("double")
            * 100.0
        ).alias("wer_pct"),
        F.sum(ref_words_col).cast("long").alias("total_ref_words"),
        F.count("*").alias("n_utts"),
    )


def min_sample_rate(
    df: DataFrame, book_col: str = "book_id", sr_col: str = "sample_rate"
) -> DataFrame:
    """G7: min sample rate over a book's parts decides qualification
    (``process_all.py:502-509``)."""
    return df.groupBy(book_col).agg(F.min(sr_col).alias("min_sr"))


def flag_ratio(df: DataFrame, pred: Column, name: str = "ratio") -> DataFrame:
    """G8: fraction of rows matching a predicate (invalid-URL pct,
    ``crawler/metadata.py:396-399``) — avg of a 0/1 indicator, one
    scan, map-side combinable."""
    return df.agg(F.avg(pred.cast("double")).alias(name))


def per_group_metrics(
    df: DataFrame,
    group: str | list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """G9/G10 generic: named multi-metric group summary."""
    groups = [group] if isinstance(group, str) else group
    return df.groupBy(*groups).agg(*[c.alias(n) for n, c in aggs.items()])


def rollup_stats(
    df: DataFrame,
    dims: list[str],
    aggs: dict[str, Column],
    cube: bool = False,
) -> DataFrame:
    """Corpus stats with subtotals — SURVEY §2.4 notes the reference
    has no grouping sets; Spark gives rollup/cube for free. A
    ``grouping_id`` column disambiguates subtotal rows from real NULL
    dimension values."""
    grouped = df.cube(*dims) if cube else df.rollup(*dims)
    return grouped.agg(
        F.grouping_id().cast("int").alias("gid"),
        *[c.alias(n) for n, c in aggs.items()],
    )


def rollup_cascade(
    df,
    ts_col: str = "ts",
    value_col: str = "value",
    places: int = 2,
    levels: tuple[str, ...] = ("minute", "hour", "day"),
):
    """Hypertable-style cascading time rollup: aggregate at the finest
    grain, then each coarser level aggregates the PREVIOUS level's
    partials — never the raw rows. Exactness holds because counts and
    scaled-integer sums are associative (floor once per row, then sum
    in any grouping order). At 100 TB the minute level is the only
    pass over raw data; hour/day read partial tables that are orders
    of magnitude smaller — the continuous-aggregate pattern.

    Returns {level: DataFrame(bucket, n_events, scaled_sum)} with the
    scaled integer EXPOSED so callers divide once at the edge."""
    from pyspark.sql import functions as F

    scale = float(10**places)
    out = {}
    cur = df.groupBy(
        F.date_trunc(levels[0], ts_col).alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col(value_col) * scale + F.lit(0.5))).alias("scaled_sum"),
    )
    out[levels[0]] = cur
    for lvl in levels[1:]:
        cur = cur.groupBy(F.date_trunc(lvl, "bucket").alias("bucket")).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("scaled_sum").alias("scaled_sum"),
        )
        out[lvl] = cur
    return out


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Deterministic distinct-count sketches per group: KMV
    (k-minimum-values, Bar-Yossef et al. 2002) plus a fixed-theta
    hash-sampling estimate — the ORACLE-CHECKABLE alternative to
    HyperLogLog (q47): every estimate derives from md5, so any
    engine reproduces it bit-for-bit, and the sketches stay mergeable
    (union of k-smallest sets / theta samples) for 100 TB partials.

    Hash: first 13 hex chars of md5(value) as a 52-bit integer —
    exact in a double, so the (k-1)/normalized-kth estimator is one
    portable IEEE expression. With fewer than k distinct values the
    KMV sketch is exact by construction.

    Scale shape: one distinct shuffle on (group, value) — map-side
    combinable — then a window top-k per group over 16-byte rows and
    a second tiny aggregate. No value payloads move after the
    distinct; at 100 TB swap the exact distinct for the staged-
    signature pattern if values repeat heavily across partitions.

    Returns (group_cols..., n_sample, kth, kmv_estimate,
    theta_estimate, n_exact)."""
    from pyspark.sql import Window

    from vnavc_spark.functions.portable import stable_round

    two52 = 4503599627370496.0  # 2^52: hash-space size, exact double
    theta_cut = 1 << 46  # h < 2^52/64 → sampling rate 1/64
    dv = df.select(*group_cols, value_col).distinct()
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    dv = dv.withColumn("h", h)
    w = Window.partitionBy(*group_cols).orderBy("h", value_col)
    ka = (
        dv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy(*group_cols)
        .agg(F.count("*").alias("n_sample"), F.max("h").alias("kth"))
    )
    ta = dv.groupBy(*group_cols).agg(
        (F.sum(F.when(F.col("h") < theta_cut, 1).otherwise(0)) * 64)
        .cast("long")
        .alias("theta_estimate"),
        F.count("*").cast("long").alias("n_exact"),
    )
    est = F.when(
        F.col("n_sample") < k, F.col("n_sample").cast("double")
    ).otherwise(
        stable_round(
            F.lit(float(k - 1)) / (F.col("kth") / F.lit(two52)), 6
        )
    )
    return (
        ka.join(ta, on=group_cols)
        .select(
            *group_cols,
            F.col("n_sample").cast("long").alias("n_sample"),
            est.alias("kmv_estimate"),
            "theta_estimate",
            "n_exact",
        )
    )


def hll_deterministic(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    b: int = 6,
) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch per group
    (Flajolet et al. 2007), fully ORACLE-CHECKABLE: the hash is md5
    (any engine reproduces every register bit-for-bit), the register
    state and harmonic accumulator are EXACT integers, and the only
    float is one terminal division by a shared literal constant — so
    unlike the engine-internal ``approx_count_distinct`` (whose HLL++
    seed/encoding is implementation-private, forcing a rows-only
    check), this sketch hash-certifies against DuckDB.

    Layout: 15 md5 hex chars → 60-bit hash; low ``b`` bits pick one
    of m = 2^b registers, the remaining 60−b bits feed
    ρ = (trailing-zero count) + 1 — the Durand–Flajolet geometric
    observable on the reversed bit order, same distribution as the
    leading-zero form but computable with one integer identity
    (``w & −w`` isolates the lowest set bit; log2 of an exact power
    of two is ulp-safe under the +0.5 floor). ρ(0) = 60−b+1 caps the
    all-zero suffix. The harmonic mean Σ 2^−M_j is scaled by
    2^(60−b+1) so it accumulates as an EXACT long (m·2^55 < 2^62 at
    b = 6): ``harmonic_sum`` is engine-portable integer state, and
    the estimate α_m·m²·2^55 / S is one IEEE division by a Python-
    formatted double literal. No small-range linear-counting branch —
    it needs ln(), which is not bit-portable across libm; raw-HLL
    bias below ~2.5m is the documented trade for certifiability
    (``n_exact`` rides along as the error anchor, q86 convention).

    Scale shape: one map-side-combinable (group, register) max
    aggregate — register maxima merge across partitions, the 100 TB
    partial-aggregation story; the exact anchor is the only distinct
    shuffle and drops for production use.

    Returns (group_cols..., n_registers_hit, harmonic_sum,
    hll_estimate, n_exact)."""
    # NULL values contribute nothing — like countDistinct (the
    # n_exact anchor). Without the filter a null hashes to a NULL _h
    # that creates a phantom register: counted by n_registers_hit but
    # excluded from the rho sum, skewing harmonic_sum (and a group of
    # only nulls yields NULL instead of estimate 0). Any future
    # oracle over a nullable key must mirror `WHERE col IS NOT NULL`.
    df = df.filter(F.col(value_col).isNotNull())
    return _hll_readout(
        hll_register_maxima(df, group_cols, value_col, b),
        df,
        group_cols,
        value_col,
        b,
    )


def _hll_readout(
    regs: DataFrame,
    vals: DataFrame,
    group_cols: list[str],
    value_col: str,
    b: int,
) -> DataFrame:
    """Estimate from a register table plus the exact anchor
    (countDistinct over ``vals``) — shared by :func:`hll_deterministic`
    and :func:`hll_spec`'s finalize."""
    ex = vals.groupBy(*group_cols).agg(
        F.countDistinct(value_col).cast("long").alias("n_exact")
    )
    return hll_estimate_from_registers(regs, group_cols, b).join(
        ex, on=group_cols
    ).select(
        *group_cols,
        "n_registers_hit",
        "harmonic_sum",
        "hll_estimate",
        "n_exact",
    )


def hll_register_maxima(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    b: int = 6,
) -> DataFrame:
    """The register half of :func:`hll_deterministic`, factored so
    the streaming twin (:func:`hll_spec`) stages
    the SAME (group, _reg, _M) register maxima per batch — register
    max is associative/commutative, so per-batch maxima max-merge to
    the corpus registers exactly (the mergeable-sketch identity).
    Input must already be null-filtered (the caller owns the
    countDistinct-like null semantics)."""
    m = 1 << b
    sent = 60 - b + 1  # rho when the whole w suffix is zero
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rw = df.select(*group_cols, h.alias("_h")).select(
        *group_cols,
        F.pmod(F.col("_h"), F.lit(m)).alias("_reg"),
        F.expr(f"_h div {m}").alias("_w"),
    )
    rho = F.expr(
        f"CASE WHEN _w = 0 THEN {sent} ELSE "
        "CAST(floor(log2(CAST(_w & -_w AS DOUBLE)) + 0.5) AS BIGINT) + 1 "
        "END"
    )
    return rw.withColumn("_rho", rho).groupBy(*group_cols, "_reg").agg(
        F.max("_rho").alias("_M")
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str],
    b: int = 6,
) -> DataFrame:
    """The estimate half of :func:`hll_deterministic`: per-group
    harmonic accumulation over a (group, _reg, _M) register table —
    exact integer state, one terminal IEEE division by the
    Python-formatted alpha literal. Shared by the batch core and the
    streaming snapshot (:func:`hll_spec`), which max-merges staged
    per-batch register partials into the same table first."""
    from vnavc_spark.functions.portable import stable_round

    m = 1 << b
    sent = 60 - b + 1
    alpha_num = 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << sent)
    ga = regs.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_registers_hit"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({sent} - _M AS INT))")
        ).alias("_s_present"),
    )
    s_total = (
        F.col("_s_present")
        + (F.lit(m) - F.col("n_registers_hit")) * F.lit(1 << sent)
    ).cast("long")
    return ga.select(
        *group_cols,
        "n_registers_hit",
        s_total.alias("harmonic_sum"),
        stable_round(
            F.lit(alpha_num) / s_total.cast("double"), 6
        ).alias("hll_estimate"),
    )


def histogram_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bucket_width: int = 1000,
) -> DataFrame:
    """Deterministic approximate median per group via a fixed-width
    histogram — the oracle-checkable alternative to quantile sketches
    (q47's approx_percentile): bucket counts are integers, the median
    bucket is the first whose doubled cumulative count reaches the
    total (2·cum ≥ n — pure integer arithmetic, no float anywhere),
    and the estimate is the bucket midpoint. Error is bounded by
    bucket_width; histograms merge by adding counts, so partials
    compose across 100 TB partitions.

    Shape: one groupBy on (group, bucket) — map-side combinable —
    then a window cumsum over the tiny histogram table.

    Returns (group_cols..., n_rows, p50_bucket, approx_p50)."""
    from pyspark.sql import Window

    b = F.floor(F.col(value_col) / bucket_width).cast("long")
    counts = (
        df.select(*group_cols, b.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*group_cols)
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n_rows", F.sum("cnt").over(wt)
    )
    med = (
        cum.filter(F.col("cum") * 2 >= F.col("n_rows"))
        .groupBy(*group_cols)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.min("bucket").alias("p50_bucket"),
        )
    )
    return med.select(
        *group_cols,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("p50_bucket").cast("long").alias("p50_bucket"),
        (F.col("p50_bucket") * bucket_width + bucket_width // 2)
        .cast("long")
        .alias("approx_p50"),
    )


#: Cumulative Poisson(1) thresholds — the weight CDF shared with the
#: SQL oracle so the deterministic bootstrap weights are portable.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def poisson1_hex_thresholds(hex_digits: int = 3) -> list[str]:
    """The CDF thresholds as fixed-width hex strings: a uniform drawn
    as an md5 substring compares LEXICOGRAPHICALLY against these
    (lowercase fixed-width hex orders like the integer it encodes),
    so the Poisson draw needs no base conversion at all — string
    compare is ~3× cheaper than conv() per draw and renders
    identically in DuckDB. 3 hex digits = a 12-bit uniform: the CDF
    quantization error is < 2^-12 per threshold (≪ bootstrap noise at
    any replica count) and one 32-hex digest yields TEN draws, so the
    md5 count — the dominant cost, measured ~45% of q94 at sf0.1 —
    halves versus 24-bit draws."""
    return [
        format(int(t * (1 << (4 * hex_digits))), f"0{hex_digits}x")
        for t in POISSON1_CDF
    ]


def bootstrap_ci(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    replicas: int = 200,
    places: int = 2,
) -> DataFrame:
    """Deterministic Poisson bootstrap confidence interval for the
    per-group mean — uncertainty quantification as a DataFrame op.
    Each (row, replica) draws a Poisson(1) weight from an md5-derived
    uniform (inverse-CDF thresholds above): no RNG state, so any
    engine — and any re-run on any cluster — reproduces the identical
    interval (the classic online/streaming bootstrap, Oza & Russell
    2001; Kleiner et al.'s BLB is this plus subsampling).

    Scale shape: the replica fan-out multiplies rows ×B/10 (not ×B —
    one md5 per TEN replicas: the 32-hex digest yields ten 12-bit
    uniforms, read as substrings and compared lexicographically
    against hex thresholds, no base conversion; 12-bit CDF
    quantization is ≪ bootstrap noise), the ten replica lanes
    aggregate as SEPARATE COLUMNS of one codegen'd map-side pass, and
    only the tiny (group, g) aggregate is exploded into (group, b)
    rows. The generator-per-draw form this replaces re-evaluated the
    md5 inside a Generate node (no codegen, no subexpression reuse) —
    measured 5× slower at sf0.1; the 5-lane 24-bit form cost 2× the
    md5 calls for no statistical gain. The shuffle carries (group,
    replica) partials only, never data rows. The CI picks rank
    ⌊0.025·B⌋ / ⌈0.975·B⌉ replica means via one tiny window.

    Returns (group_cols..., n_rows, mean_val, ci_lo, ci_hi)."""
    from pyspark.sql import Window

    from vnavc_spark.functions.portable import exact_sum, stable_round

    lanes_n = 10
    if replicas % lanes_n != 0:
        # explicit raise, not assert: parameter validation must
        # survive `python -O` (the q199 ADVICE stance)
        raise ValueError("replicas must be a multiple of 10")
    scale = float(10**places)
    thr = poisson1_hex_thresholds()
    # the ×(B/10) explode + md5 lanes are the heavy pre-shuffle work:
    # spread a few-file input across the cores first (same gate as
    # text_stage / minhash_signatures_df; single-row-group local
    # files can't be range-split by maxPartitionBytes). Measured at
    # sf0.1: 8.2 s single-partition → 2.3 s spread.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_input = len(df.inputFiles())
    except Exception:
        n_input = 0
    if n_input and n_input < n_parts:
        df = df.repartition(n_parts)
    g = F.explode(
        F.sequence(F.lit(1), F.lit(replicas // lanes_n))
    ).alias("g")
    hx = F.md5(
        F.concat(
            F.lit("bs"),
            F.col("g").cast("string"),
            F.lit("|"),
            F.col(id_col).cast("string"),
        )
    )

    def w_from(s):
        return (
            F.when(s < thr[0], 0)
            .when(s < thr[1], 1)
            .when(s < thr[2], 2)
            .when(s < thr[3], 3)
            .when(s < thr[4], 4)
            .otherwise(5)
        )

    x_scaled = F.floor(F.col(value_col) * scale + F.lit(0.5))
    # materialize the digest in its own projection: substring/compare
    # lanes then reference a bound column, so the md5 is provably
    # evaluated once per row — inlining it relied on codegen CSE,
    # which left repeated evaluations behind (measured ~28% slower at
    # sf0.1)
    base = df.select(*group_cols, id_col, value_col, g).select(
        *group_cols, value_col, "g", hx.alias("_hx")
    )
    lanes = base.select(
        *group_cols,
        value_col,
        "g",
        *[
            w_from(F.substring(F.col("_hx"), 3 * j + 1, 3)).alias(f"_w{j}")
            for j in range(lanes_n)
        ],
    )
    wide = lanes.groupBy(*group_cols, "g").agg(
        *[
            a
            for j in range(lanes_n)
            for a in (
                F.sum(F.col(f"_w{j}") * x_scaled).alias(f"_sw{j}"),
                F.sum(f"_w{j}").alias(f"_nw{j}"),
            )
        ]
    )
    rep = (
        wide.select(
            *group_cols,
            "g",
            F.posexplode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"_sw{j}").alias("sw"),
                            F.col(f"_nw{j}").alias("nw"),
                        )
                        for j in range(lanes_n)
                    ]
                )
            ).alias("j", "_p"),
        )
        .select(
            *group_cols,
            ((F.col("g") - 1) * lanes_n + F.col("j") + 1).alias("b"),
            F.col("_p.sw").alias("_sw"),
            F.col("_p.nw").alias("_nw"),
        )
        .filter(F.col("_nw") > 0)
        .withColumn("_mean_b", F.col("_sw") / scale / F.col("_nw"))
    )
    lo_rank = max(1, int(0.025 * replicas))
    hi_rank = min(replicas, int(0.975 * replicas) + (0.975 * replicas != int(0.975 * replicas)))
    # rank selection over ≤ replicas rows per group: a sorted collect
    # inside ONE aggregate replaces the row_number window + second
    # groupBy — two fewer stages; the (mean, b) sort key matches the
    # window ordering it replaces, and per-group state is bounded by
    # the replica count, never the data
    def _pick(rank: int):
        # size-guarded (ANSI-safe): null when fewer surviving
        # replicas than the rank, matching the window form's
        # min(when(rn == rank)) semantics
        return F.when(
            F.size(F.col("_arr")) >= rank,
            F.element_at(F.col("_arr"), rank).getField("m"),
        )

    ci = (
        rep.groupBy(*group_cols)
        .agg(
            F.count("*").alias("_n_rep"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_mean_b").alias("m"), F.col("b"))
                )
            ).alias("_arr"),
        )
        .select(
            *group_cols,
            "_n_rep",
            _pick(lo_rank).alias("_lo"),
            _pick(hi_rank).alias("_hi"),
        )
    )
    stats = df.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        (exact_sum(F.col(value_col), places) / F.count("*")).alias("_mean"),
    )
    return stats.join(ci, on=group_cols).select(
        *group_cols,
        "n_rows",
        stable_round(F.col("_mean"), 6).alias("mean_val"),
        stable_round(F.col("_lo"), 6).alias("ci_lo"),
        stable_round(F.col("_hi"), 6).alias("ci_hi"),
    )


def grouped_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    places: int = 2,
) -> DataFrame:
    """Per-group OLS linear trend (slope + intercept) computed from
    EXACT integer moments — engine- and order-portable.

    y is scaled to integers (``floor(y*10^p + 0.5)``), x must be
    integral; all four moments (n, Σx, Σy, Σxy, Σx²) are then exact
    BIGINT sums — identical under any aggregation order and on any
    engine. Only the final slope/intercept division is floating
    point, and it is a single identical expression tree on both
    engines:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx) / 10^p
        intercept = (Σy/10^p − slope·Σx) / n

    Scale shape: one map-side-combinable aggregate — the shuffle
    carries five BIGINT partials per group, never data rows. (Moment
    magnitudes must stay < 2^53 for the final double conversion to
    be exact; callers regress *pre-aggregated* series — e.g. daily
    sums — so n per group is the grid size, not the corpus size.)
    """
    scale = float(10**places)
    ys = F.floor(F.col(y_col) * scale + F.lit(0.5)).cast("long")
    xs = F.col(x_col).cast("long")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(xs).alias("_sx"),
        F.sum(ys).alias("_sy"),
        F.sum(xs * ys).alias("_sxy"),
        F.sum(xs * xs).alias("_sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("_n").cast("double"),
        F.col("_sx").cast("double"),
        F.col("_sy").cast("double"),
        F.col("_sxy").cast("double"),
        F.col("_sxx").cast("double"),
    )
    # combine moments in DOUBLE: the moments themselves are exact
    # BIGINTs (and converting the same int64 to double is identical
    # on every engine), but n·Σxy as an int64 PRODUCT overflows ~100×
    # sooner than the sums do — measured at the 100× scaling run
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) / scale
    agg = agg.withColumn("slope", slope)
    intercept = (
        (sy.cast("double") / scale) - F.col("slope") * sx.cast("double")
    ) / n.cast("double")
    return agg.withColumn("intercept", intercept).drop(
        "_sx", "_sy", "_sxy", "_sxx"
    ).withColumnRenamed("_n", "n_points")


# exact_rank_select / exact_rank_multi keep (lo, hi, rank) DRIVER
# state per group: group-cardinality-sized by contract (grouping
# keys are categorical). The cap makes the contract fail-fast
# instead of silently building unbounded driver state.
RANK_MAX_GROUPS = 1_000_000
# per-round bucket-count cell budget: open_bounds × effective buckets
# (the worst case when every group's range is dense). The crossing
# bin is detected executor-side, so this bounds the per-round SHUFFLE
# (map-side combine caps cells at this product; ~400 MB of cells at
# the cap), not a driver collect — the driver receives one row per
# open target. Fail fast above the product; callers with many groups
# lower n_buckets (more, cheaper rounds) instead of blowing shuffle.
RANK_MAX_CELLS = 16_777_216
# ceiling for the ADAPTIVE per-round bucket count: when few bounds
# are open, the cell budget buys wider rounds (fewer corpus passes —
# each round is a full scan + driver sync); the cap keeps any single
# bounds id's window partition at ≤ 2^18 rows (config-bounded, one
# task) and keeps sparse-data hash maps sane.
ADAPTIVE_BUCKET_CAP = 1 << 18
# below this many POTENTIAL cells (bounds × nb_eff) the round
# resolves with a driver-side walk over the collected bucket counts
# — one stage, no window/join (measured faster than the executor
# path by ~0.5 s/round at local scale); above it, the executor-side
# crossing join keeps the collect at one row per open target no
# matter how wide the round is. The walk collect is bounded by the
# POTENTIAL cell count regardless of corpus size (only nonzero bins
# materialize, and there are at most bounds × nb_eff of them), so
# the ceiling is a driver-memory knob, not a data-scale one: 2^20
# cells ≈ 25 MB collected / ~0.3 s of dict walk — measured 1.2 s
# faster per rank_bucket_classify call than routing the same rounds
# through the crossing join (q126 5.6→4.3 s, q138 4.7→4.1 s at
# sf0.1; hashes unchanged — both paths perform the identical
# descent).
DRIVER_WALK_CELLS = 1 << 20
# ceiling on PADDED expected nonzero cells (distinct-value evidence
# from the first aggregate) under which a single width-1 round
# replaces the whole log-range descent — sized so the finishing
# round's collect stays a few MB and strictly under the walk ceiling
# (the shortcut always routes through the walk path).
VALUE_SHORTCUT_CELLS = 1 << 17

#: Per-call narrowing telemetry (round-9 verdict item #1: adjudicate
#: warm-latency by artifact, not by guess). Every `_exact_ranks_core`
#: call appends one record: targets, per-round path taken
#: ('walk' = driver dict walk / 'exec' = executor crossing join),
#: per-round potential cells (open bounds × nb_eff) and nb_eff, plus
#: wall seconds of the first aggregate and of each round. Pure
#: bookkeeping — never read by the algorithm; `bench.py`/SCALE.md dump
#: it to separate driver-round scheduling cost from compute.
NARROWING_STATS: list[dict] = []


def _nullsafe_group_key(group_cols: list[str]) -> Column:
    """Collision-free string key over the group columns: each value
    is base64-encoded (alphabet disjoint from the separators), NULL
    gets its own sentinel token — so ('a', NULL) / (NULL, 'a') /
    ('a\\x1fb', ...) all stay distinct (``concat_ws`` alone SKIPS
    nulls and lets embedded separators collide keys)."""
    toks = [
        F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
            F.base64(F.encode(F.col(c).cast("string"), "UTF-8"))
        )
        for c in group_cols
    ]
    return F.concat_ws("\x1f", *toks)


def _exact_ranks_core(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    targets: dict,
    places: int,
    n_buckets: int,
    max_rounds: int,
    max_groups: int,
    weight_col: str | None = None,
    weight_places: int = 0,
    minmax_shortcut: bool = True,
    priors: dict | None = None,
):
    """Shared narrowing loop behind :func:`exact_rank_select` and
    :func:`exact_rank_multi`.

    Iterative range narrowing (distributed selection): values scale
    to exact integers; each round buckets every (group, target)'s
    remaining candidate range into ``n_buckets`` CEIL-width bins with
    ONE map-side-combinable count aggregate; the driver keeps
    (lo, hi, rank) per (group, target) — group-count-sized state,
    never data — and descends into the bin containing the target
    rank. Bucket width is ``ceil(range / n_buckets)`` so the bins
    cover the ENTIRE [lo, hi] range (a floor width leaves the top
    ``range mod n_buckets`` band uncounted and the narrowing loop
    stalls — e.g. a group massed at its maximum would silently
    return the group MINIMUM), and the scan filter is the broadcast
    per-group [lo, hi] itself, so every remaining value lands in a
    bin 0..n_buckets-1. Range shrinks ≥ n_buckets× per round →
    ≤ ceil(log_{n_buckets}(range)) rounds (8 for full 64-bit cents,
    3-4 for realistic ranges); total work O(rounds · corpus).

    Returns ``(state, scale, spark)`` — state values carry the
    original-typed group tuple, target name, n and the resolved
    scaled-integer value.

    With ``minmax_shortcut`` (default) rank-1 / rank-n targets close
    directly from the first aggregate's min/max and cost zero rounds.
    Disable it when the caller needs the CONVERGENCE INVARIANT of the
    final state: at lo == hi, ``s["rank"]`` is the target's residual
    rank WITHIN the tie run at the resolved value, i.e. the mass
    strictly below the value is exactly ``original_rank − s["rank"]``
    (each descent subtracts the mass of the bins passed over). The
    shortcut breaks that bookkeeping for the rank-n-at-max case (the
    below-max mass is unknown without narrowing), so callers that
    read residual ranks — :func:`rank_bucket_classify`'s strictly-
    below counts — must run every target through the rounds; the
    extra targets ride the SAME shared per-round aggregate, so the
    marginal cost is at most one tail round, not a pass per target.

    ``priors`` (round 14; guide §2.4 remove shuffles outright): a
    dict ``_k -> {"n", "lo", "hi", "nd", "group"}`` that REPLACES the
    first corpus aggregate — the caller already knows the per-group
    row mass and safe value bounds (chained selections like MAD: the
    deviation pass has the same n per group, dev >= 0, and max-dev
    is bounded by the first pass's min/max/median state). Contract,
    in the SCALED integer domain of THIS call: ``n`` must be the
    exact per-group mass (it feeds rank_fn), ``lo`` <= the true
    group minimum (the rank bookkeeping assumes zero mass below lo),
    ``hi`` >= the true group maximum. Bounds may be LOOSE —
    narrowing converges from any covering range, at worst one extra
    round — so the min/max shortcut is disabled for prior-seeded
    targets (rank 1 / rank n resolve by narrowing, not from the
    loose bounds). ``nd`` only steers round planning (an
    over-estimate forgoes the width-1 shortcut, never a wrong
    answer). Every priors group must hold >= 1 row in ``df`` — an
    empty group would trip the invariant error. Saves one full
    corpus aggregate per chained call (q121 probe: 0.4-0.7 s at
    sf0.1; at 100 TB it is a saved full scan).
    """
    scale = 10**places
    key = _nullsafe_group_key(group_cols)
    vi = F.floor(F.col(value_col) * float(scale) + F.lit(0.5)).cast("long")
    # weighted selection: every occurrence carries an integer MASS
    # instead of 1 — ranks, bucket tallies, and the sweep all run on
    # cumulative mass, nothing else changes (the unweighted path is
    # the weight≡1 special case). Weights scale to exact integers
    # like values; non-positive weights drop (zero mass cannot hold
    # a rank, negative mass breaks monotone cumulation).
    wscale = 10**weight_places
    if weight_col is None:
        wi = F.lit(1).cast("long")
    else:
        wi = F.floor(
            F.col(weight_col) * float(wscale) + F.lit(0.5)
        ).cast("long")
    base = df.select(
        key.alias("_k"), *group_cols, vi.alias("_v"), wi.alias("_w")
    ).filter(F.col("_v").isNotNull() & (F.col("_w") > 0))
    first = base.groupBy("_k", *group_cols).agg(
        F.sum("_w").alias("n"),
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
        # approximate distinct-value count per group: rides the same
        # corpus pass (one HLL++ buffer per group) and feeds the
        # VALUE-GRANULARITY SHORTCUT below — when a group's remaining
        # range holds few enough distinct values, one width-1 round
        # replaces the whole log-range descent. Estimate only steers
        # ROUND PLANNING (an under-estimate just makes a round carry
        # a few more nonzero cells than budgeted); the selected
        # values stay exact either way.
        F.approx_count_distinct("_v").alias("nd"),
    )
    # cardinality guard FUSED into the state collect: limit(max_groups
    # + 1) bounds the driver transfer while the length check runs
    # driver-side — ONE job instead of the former persist + count +
    # collect + unpersist (two jobs + two RPCs; measured 0.55 s →
    # 0.31 s per call at sf0.1 — the old "+0.4 s global-limit stage"
    # note predates AQE handling limit-over-aggregate well).
    _stats = {"targets": sorted(targets), "rounds": []}
    _t0 = time.perf_counter()
    if priors is None:
        rows = first.limit(max_groups + 1).collect()
        if len(rows) > max_groups:
            raise ValueError(
                f"exact_rank: group cardinality exceeds {max_groups}; "
                "the narrowing algorithm keeps (lo, hi, rank) per "
                "group on the driver, which requires categorical "
                "grouping keys. Reduce key cardinality or raise "
                "max_groups explicitly."
            )
        seeds = [
            (
                r["_k"],
                r["n"],
                r["lo"],
                r["hi"],
                r["nd"],
                tuple(r[c] for c in group_cols),
                True,  # exact bounds: min/max shortcut is sound
            )
            for r in rows
        ]
    else:
        if len(priors) > max_groups:
            raise ValueError(
                f"exact_rank: priors carry {len(priors)} groups, "
                f"exceeding max_groups={max_groups}."
            )
        # caller-supplied bounds may be loose (see docstring), so the
        # min/max shortcut must not close rank-1/rank-n from them
        seeds = [
            (k, p["n"], p["lo"], p["hi"], p["nd"], p["group"], False)
            for k, p in priors.items()
        ]
    state = {}
    for k, n, glo, ghi, nd, group, exact_bounds in seeds:
        for tname, rank_fn in targets.items():
            rk = max(1, min(n, int(rank_fn(n))))
            # rank 1 / rank n resolve directly from the first
            # aggregate's min/max — close them immediately so
            # min/max-style targets cost ZERO narrowing rounds
            # (unless the caller needs residual ranks, or the bounds
            # are loose priors; see docstring)
            if minmax_shortcut and exact_bounds and rk == 1:
                lo = hi = glo
            elif minmax_shortcut and exact_bounds and rk == n:
                lo = hi = ghi
            else:
                lo, hi = glo, ghi
            state[(k, tname)] = {
                "lo": lo,
                "hi": hi,
                "rank": rk,
                "n": n,
                "nd": nd,
                "group": group,
                # seed-time bounds, never mutated by the descent —
                # chained callers derive the next pass's priors from
                # these (exact min/max on the first-aggregate path)
                "glo": glo,
                "ghi": ghi,
            }
    _stats["first_agg_s"] = round(time.perf_counter() - _t0, 3)
    spark = df.sparkSession
    for _ in range(max_rounds):
        open_t = {kt: s for kt, s in state.items() if s["lo"] < s["hi"]}
        if not open_t:
            break
        _rt0 = time.perf_counter()
        # bucket counts depend only on (group, lo, hi, width) — NOT
        # the rank — so targets sharing bounds (always true in the
        # first round: every target starts at the group's [min, max])
        # share ONE counting pass. The join ships each base row once
        # per DISTINCT bounds, not once per target, and the count
        # cells key on a compact integer id.
        #
        # Keep the BROADCAST JOIN even though the bounds table is
        # tiny: replacing it with literal CASE chains (bounds baked
        # into the expressions) was MEASURED SLOWER (q121 4.8→6.0 s)
        # — the literals change every round, so each round compiles a
        # fresh janino class, while the join keeps one stable plan
        # shape that hits the generated-class cache.
        # ADAPTIVE bucket count, two-step. (1) The per-round budget:
        # few open bounds ⇒ the cell cap buys wider rounds (the
        # crossing bin is found on EXECUTORS, so the driver receives
        # one row per open target — width never widens the collect).
        # (2) Spend the MINIMUM that still achieves the minimum
        # round count: rounds = ceil(log_budget(max range)) is fixed
        # by the budget, so nb_eff = ceil(range^(1/rounds)) converges
        # in exactly that many rounds while shuffling ~sqrt-of-range
        # cells instead of budget cells (measured on the sf0.1 MAD
        # profile: 3×262k-cell rounds → 2×~3k-cell rounds; an
        # always-max width was SLOWER than the 256-bucket driver walk
        # it replaced because partial aggregation stops combining
        # once bins outnumber values).
        bkeys = {(k, s["lo"], s["hi"]) for (k, _t), s in open_t.items()}
        r_max = max(hi - lo + 1 for (_k, lo, hi) in bkeys)
        # VALUE-GRANULARITY SHORTCUT: the first aggregate's
        # approx_count_distinct bounds the ACTUAL nonzero bins a
        # width-1 round can produce (bins are distinct values, not
        # potential range cells), so when every open group's padded
        # distinct count fits the per-partition cap AND the padded
        # total fits the per-round cell budget, ONE round at width 1
        # converges everything — one corpus pass instead of the
        # log-range descent (at 100 TB each saved round is a full
        # scan; locally it's a saved driver sync). The pad (+25% +16)
        # absorbs HLL++ estimation error; a residual under-estimate
        # only means the round carries slightly more nonzero cells
        # than budgeted — never a wrong answer, because bin counts
        # are exact regardless of how the width was chosen.
        nds = {k: s["nd"] for (k, _t), s in open_t.items()}
        pad = {k: nd + (nd >> 2) + 16 for k, nd in nds.items()}
        # the shortcut must stay CHEAPER than the rounds it replaces:
        # measured at sf0.1, a width-1 round over nd≈198k-per-group
        # prices costs 2.6 s on the executor-crossing path (the
        # per-group window cumsum runs one task per group — a
        # parallelism collapse, not a win) vs 2×0.8 s for the 2-round
        # descent, and the driver-walk alternative would collect
        # ~600k cells. So the shortcut fires only when the PADDED
        # expected cells (actual nonzero bins ≤ distinct values; the
        # +25%+16 pad absorbs HLL++ under-estimates) are small enough
        # to ride the driver walk — then one corpus pass + one small
        # collect finishes everything. A residual under-estimate only
        # means a slightly larger collect, never a wrong answer:
        # bin counts are exact regardless of how the width was chosen.
        value_shortcut = (
            sum(min(hi - lo + 1, pad[k]) for (k, lo, hi) in bkeys)
            <= VALUE_SHORTCUT_CELLS
        )
        if value_shortcut:
            # width 1 for every bounds id: cw() yields 1 because
            # nb_eff covers the widest remaining range. The potential-
            # cell cap check is skipped — the distinct-count evidence
            # bounds the real cells, which is what the cap protects.
            nb_eff = r_max
        else:
            budget = max(
                n_buckets,
                min(
                    ADAPTIVE_BUCKET_CAP,
                    RANK_MAX_CELLS // max(1, len(bkeys)),
                ),
            )
            rounds_needed = 1
            while budget**rounds_needed < r_max:
                rounds_needed += 1
            nb_eff = max(2, int(round(r_max ** (1.0 / rounds_needed))))
            while nb_eff**rounds_needed < r_max:
                nb_eff += 1
            nb_eff = min(nb_eff, budget)
            if len(bkeys) * nb_eff > RANK_MAX_CELLS:
                raise ValueError(
                    f"exact_rank: {len(bkeys)} open group bounds x "
                    f"{nb_eff} buckets exceeds {RANK_MAX_CELLS} "
                    "bucket-count cells per round; lower n_buckets "
                    "(more, cheaper rounds) or reduce group "
                    "cardinality."
                )

        def cw(s) -> int:
            # ceil((hi - lo + 1) / nb_eff), always ≥ 1
            return max(1, (s["hi"] - s["lo"] + nb_eff) // nb_eff)

        uniq: dict = {}
        for (k, t), s in open_t.items():
            uniq.setdefault((k, s["lo"], s["hi"], cw(s)), len(uniq))
        open_items = list(open_t.items())
        bounds = spark.createDataFrame(
            [
                (bid, k, lo, hi, bw)
                for (k, lo, hi, bw), bid in uniq.items()
            ],
            "_bid long, _k string, _blo long, _bhi long, _bw long",
        )
        cells = (
            base.join(F.broadcast(bounds), on="_k")
            .filter(
                (F.col("_v") >= F.col("_blo"))
                & (F.col("_v") <= F.col("_bhi"))
            )
            # integer `div`, NOT double division: long deltas near
            # 2^53 lose ulps as doubles and a quotient half-an-ulp
            # under an integer rounds UP, mis-binning the count and
            # sending the narrowing into a range without the target
            # rank (the documented full-64-bit-cents regime hits
            # widths > 2^41 where this is real)
            .withColumn("_bin", F.expr("(_v - _blo) div _bw"))
            .groupBy("_bid", "_bin")
            .agg(F.sum("_w").alias("c"))
        )
        if value_shortcut or len(bkeys) * nb_eff <= DRIVER_WALK_CELLS:
            # small round: collect the (bounded) bucket counts and
            # walk them on the driver — one stage per round
            counts: dict = {}
            for r in cells.collect():
                counts.setdefault(r["_bid"], {})[r["_bin"]] = r["c"]
            for (k, t), s in open_items:
                width = cw(s)
                cmap = counts.get(uniq[(k, s["lo"], s["hi"], width)], {})
                run = 0
                for i in sorted(cmap):
                    c = cmap[i]
                    if run + c >= s["rank"]:
                        s["rank"] -= run
                        s["lo"] = s["lo"] + i * width
                        s["hi"] = min(s["hi"], s["lo"] + width - 1)
                        break
                    run += c
                else:  # pragma: no cover — bins cover [lo, hi]
                    raise RuntimeError(
                        "exact_rank: rank not found in any bucket "
                        "(invariant violation)"
                    )
            _stats["rounds"].append(
                {
                    "path": "walk",
                    "open": len(open_items),
                    "bounds": len(bkeys),
                    "nb_eff": nb_eff,
                    "cells": len(bkeys) * nb_eff,
                    "value_shortcut": value_shortcut,
                    "s": round(time.perf_counter() - _rt0, 3),
                }
            )
            continue
        # big round: find the crossing bin on EXECUTORS — cum over
        # ≤ nb_eff nonzero bins per bounds id (config-bounded window
        # partitions, never data-bounded); the target rank lands in
        # the bin where the running mass first reaches it, and the
        # driver receives ONE row per open target
        ranks = spark.createDataFrame(
            [
                (tid, uniq[(k, s["lo"], s["hi"], cw(s))], s["rank"])
                for tid, ((k, _t), s) in enumerate(open_items)
            ],
            "_tid long, _bid long, _rank long",
        )
        wcum = (
            Window.partitionBy("_bid")
            .orderBy("_bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        hits = (
            cells.withColumn("_cum", F.sum("c").over(wcum))
            .join(F.broadcast(ranks), on="_bid")
            .filter(
                (F.col("_cum") - F.col("c") < F.col("_rank"))
                & (F.col("_rank") <= F.col("_cum"))
            )
            .select(
                "_tid", "_bin", (F.col("_cum") - F.col("c")).alias("_below")
            )
            .collect()
        )
        if len(hits) != len(open_items):  # pragma: no cover — bins
            # cover [lo, hi] entirely and hold ≥ rank mass
            raise RuntimeError(
                "exact_rank: rank not found in any bucket (invariant "
                "violation)"
            )
        for r in hits:
            s = open_items[r["_tid"]][1]
            width = cw(s)
            s["rank"] -= r["_below"]
            s["lo"] = s["lo"] + r["_bin"] * width
            s["hi"] = min(s["hi"], s["lo"] + width - 1)
        _stats["rounds"].append(
            {
                "path": "exec",
                "open": len(open_items),
                "bounds": len(bkeys),
                "nb_eff": nb_eff,
                "cells": len(bkeys) * nb_eff,
                "value_shortcut": value_shortcut,
                "s": round(time.perf_counter() - _rt0, 3),
            }
        )

    # convergence assertion (round-9 advice): an exhausted round loop
    # with open targets would otherwise silently return boundary
    # values from unconverged (lo < hi) state — callers consume
    # s['lo']/s['rank'] unconditionally. Effectively unreachable at
    # default n_buckets/max_rounds; reachable with tiny caller-supplied
    # n_buckets + ~1M open groups over full 64-bit ranges.
    n_open = sum(1 for s in state.values() if s["lo"] < s["hi"])
    if n_open:
        raise RuntimeError(
            f"exact_rank: {n_open} targets unconverged after "
            f"{max_rounds} rounds (range still open); raise max_rounds "
            "or n_buckets — results would be wrong, not approximate."
        )

    NARROWING_STATS.append(_stats)
    # telemetry ring: keep the tail bounded so a long-lived session
    # (the full test suite, a notebook) never grows driver memory
    del NARROWING_STATS[:-256]
    return state, scale, spark


def _group_fields(df: DataFrame, group_cols: list[str]):
    """Result-schema group fields carry the INPUT column types (a
    hard cast to string would corrupt downstream type semantics)."""
    return [df.schema[c] for c in group_cols]


def exact_rank_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    places: int = 2,
    rank_of: str = "lower_median",
    n_buckets: int = 256,
    max_rounds: int = 12,
    max_groups: int = RANK_MAX_GROUPS,
    priors: dict | None = None,
    return_state: bool = False,
):
    """EXACT per-group order statistic at unbounded scale — the
    scale-safe answer to ``percentile()``'s per-group value
    buffering (q42's documented caveat: Spark's exact percentile
    aggregate holds every group value in the aggregation buffer,
    which OOMs once one group exceeds executor memory). See
    :func:`_exact_ranks_core` for the narrowing algorithm and its
    scale shape.

    ``rank_of``: 'lower_median' → rank ⌈n/2⌉ (deterministic discrete
    median, no interpolation ambiguity).

    ``priors`` skips the first corpus aggregate when the caller
    already knows per-group mass and covering bounds;
    ``return_state`` additionally returns the converged narrowing
    state so a chained second selection (the MAD pattern) can derive
    its priors — see :func:`_exact_ranks_core` and
    :func:`mad_deviation_priors`.

    Returns (group_cols..., n_rows, median) with ``median`` descaled
    and group columns keeping their input types; with
    ``return_state`` a ``(DataFrame, state)`` tuple.
    """
    from pyspark.sql import types as T

    rank_fn = (
        (lambda n: (n + 1) // 2)
        if rank_of == "lower_median"
        else (lambda n: 1)
    )
    state, scale, spark = _exact_ranks_core(
        df, group_cols, value_col, {"_r": rank_fn},
        places, n_buckets, max_rounds, max_groups,
        priors=priors,
    )
    out_rows = [
        (*s["group"], s["n"], s["lo"] / scale) for s in state.values()
    ]
    schema = T.StructType(
        _group_fields(df, group_cols)
        + [
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("median", T.DoubleType(), True),
        ]
    )
    out = spark.createDataFrame(out_rows, schema)
    return (out, state) if return_state else out


def mad_deviation_priors(state: dict) -> dict:
    """Derive the second-pass (deviation) priors of the chained MAD
    pattern from the FIRST median selection's converged state (round
    14; guide §2.4): ``dev = |v − med|`` has the same per-group row
    mass, a hard floor of 0, and a ceiling of
    ``max(group_max − med, med − group_min)`` — all known from the
    first pass, so the deviation selector's first corpus aggregate
    is pure recomputation. Works in the shared scaled-integer
    domain (both passes must use the same ``places``): ``s["lo"]``
    is the converged median, ``s["glo"]``/``s["ghi"]`` the exact
    seed min/max. The +2 pad absorbs the half-ulp slop of
    re-scaling ``|v − med|`` from doubles (values sit within ±0.5
    of their scaled integers, the median double within ~1e-8) —
    loose bounds are sound, see ``_exact_ranks_core``. ``nd`` rides
    along as a planning upper bound (|v − med| maps each distinct
    value to at most one deviation, so distinct devs <= distinct
    values). The state must carry ONE target per group (the median):
    priors are per group, so a second target's ``lo`` would silently
    overwrite the first — raises ``ValueError`` instead."""
    priors = {}
    for (k, tname), s in state.items():
        if k in priors:
            raise ValueError(
                f"mad_deviation_priors: group {s['group']!r} carries "
                f"more than one target (second: {tname!r}); pass the "
                "state of a single-target median selection."
            )
        priors[k] = {
            "n": s["n"],
            "lo": 0,
            "hi": max(s["ghi"] - s["lo"], s["lo"] - s["glo"]) + 2,
            "nd": s["nd"],
            "group": s["group"],
        }
    return priors


def exact_rank_multi(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    targets: dict,
    places: int = 2,
    n_buckets: int = 256,
    max_rounds: int = 12,
    max_groups: int = RANK_MAX_GROUPS,
) -> DataFrame:
    """Multi-target generalization of :func:`exact_rank_select`: find
    the exact value at SEVERAL ranks per group in ONE shared sequence
    of narrowing rounds (every (group, target) pair keeps its own
    (lo, hi, rank) driver state, but each round is a single
    map-side-combinable bucket-count aggregate over the corpus —
    work is O(rounds · corpus) regardless of how many ranks are
    requested). See :func:`_exact_ranks_core`.

    ``targets``: {name: rank_fn} where ``rank_fn(n) -> int`` maps the
    group row count to a 1-based rank (e.g. percentile bracket
    positions).

    Returns (group_cols..., target string, n_rows, value double) with
    group columns keeping their input types.
    """
    from pyspark.sql import types as T

    state, scale, spark = _exact_ranks_core(
        df, group_cols, value_col, targets,
        places, n_buckets, max_rounds, max_groups,
    )
    rows = [
        (*s["group"], t, s["n"], s["lo"] / scale)
        for (k, t), s in state.items()
    ]
    schema = T.StructType(
        _group_fields(df, group_cols)
        + [
            T.StructField("target", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


#: Largest group size (== largest possible tie run) that routes
#: rank_bucket_classify's boundary-tie ranking onto ONE direct
#: row_number window instead of the banded band/carry/join cascade.
#: 2^20 rows of (group, value, id) is ~25 MB of single-task sort
#: state — comfortably bounded; the decision reads the narrowing
#: state already on the driver, so it costs no extra job.
RANK_TIE_DIRECT_CAP = 1 << 20


def _tie_direct_cap(spark) -> int:
    import os as _os

    try:
        return int(
            spark.conf.get(
                "spark.vnavc.rank.tieDirectCap",
                _os.environ.get(
                    "SPARK_GRAFT_RANK_TIE_DIRECT_CAP",
                    str(RANK_TIE_DIRECT_CAP),
                ),
            )
        )
    except ValueError:
        return RANK_TIE_DIRECT_CAP


def rank_bucket_classify(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k: int,
    out_col: str = "bucket",
    n_buckets: int = 2048,
    max_rounds: int = 12,
    max_groups: int = RANK_MAX_GROUPS,
    tie_band: int = 8192,
) -> DataFrame:
    """Exact rank-bucket classification WITHOUT a group-wide sort:
    each row gets the 0-based bucket ``(k·(r−1)) div n`` where ``r``
    is its row_number under (value ASC, id ASC) within the group and
    ``n`` the group size — the quintile / decile scoring primitive
    behind RFM segmentation (q126) and decile gains tables (q138).
    The naive form is a row_number window PARTITIONED BY A DIMENSION
    KEY — ~25 (nation) or 5 (mktsegment) tasks each sorting a
    customer-cardinality partition regardless of cluster size (the
    round-4/5/6 verdicts' last `weak` plan).

    Scale shape (no corpus-proportional sort anywhere):

    1. the k−1 bucket-boundary VALUES per group come from the
       :func:`_exact_ranks_core` narrowing selection — map-side
       combinable bucket counts, driver state is (lo, hi, rank) per
       (group, boundary), zero value buffering;
    2. ``C_i`` (rows strictly below each boundary value) falls out of
       the SAME narrowing for free: with the min/max shortcut
       disabled, the converged state's residual rank is the
       boundary's rank within its tie run, so C_i = R_i − residual —
       no separate strictly-below corpus pass (the r07 profile spent
       a full extra scan + shuffle on it);
    3. rows whose value differs from every boundary value classify
       in a broadcast array fold: with v ≠ v_i, rank ≤ R_i ⟺
       v < v_i (v_i is the value AT rank R_i, so fewer than R_i rows
       sit strictly below it and at least R_i rows sit at or below);
    4. only rows whose value EQUALS a boundary value need their
       in-tie rank (rank = C_i + tie_rank): a two-level banded
       row_number over the tie runs — local row_number inside
       id-range bands of ``tie_band``, then a carry over band COUNTS
       (|tie run| / tie_band rows, partitioned by (group, value)) —
       so even an all-equal degenerate group never funnels its rows
       through one task. The band/carry/join cascade is 3 extra
       exchanges of pure scheduling floor when the tie runs are
       SMALL, and the converged narrowing state already holds every
       group's size ``n`` driver-side with |tie run| <= n — so when
       max(n) <= ``spark.vnavc.rank.tieDirectCap`` (default 2^20
       rows, env $SPARK_GRAFT_RANK_TIE_DIRECT_CAP, <= 0 disables)
       the in-tie rank is ONE row_number window partitioned by
       (group, value): a bounded single-task sort, decided from
       state already collected (no extra job). Above the cap — the
       100 TB posture, where a group is corpus-sized — the banded
       cascade is unchanged.

    The boundary table is (group × (k−1))-sized driver state, so the
    classify array builds DRIVER-SIDE and broadcasts — no boundary
    join, no collect_list aggregation round (both were in the r07
    plan; together with the C_i fusion and the adaptive round widths
    this cut the sf0.1 profiles ~25-40% — q126 7.6→5.8 s, q138
    8.4→5.2 s, same environment, output hashes unchanged).

    Constraints: ``value_col`` must be integer-valued (long-safe;
    scale decimals to cents first — the boundary values round-trip
    through the narrowing core as exact integers), ``id_col``
    numeric and unique within its group, neither nullable.
    Descending rank order = negate the value column.

    ``n_buckets`` defaults wider (2048) than exact_rank's 256: the
    boundary count per group is small (k−1), so the per-round cell
    budget is nowhere near the cap, and each saved round is a full
    driver-synchronized corpus pass (measured 4.7→3.5 s on the
    sf0.1 decile profile).

    Returns the input columns plus ``out_col`` (long, 0-based,
    0 = first bucket in the sort order). Output row order is NOT
    defined (tie and non-tie branches are unioned).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if k < 2:
        raise ValueError("rank_bucket_classify: k must be >= 2")
    v = F.col(value_col)
    # last rank whose bucket index is i: greatest r with
    # (k·(r−1)) div n == i  ⟺  r = (n·(i+1)−1) div k + 1
    targets = {
        f"b{i:03d}": (lambda n, _i=i: (n * (_i + 1) - 1) // k + 1)
        for i in range(k - 1)
    }
    state, _scale, spark = _exact_ranks_core(
        df,
        group_cols,
        value_col,
        targets,
        places=0,
        n_buckets=n_buckets,
        max_rounds=max_rounds,
        max_groups=max_groups,
        minmax_shortcut=False,  # residual ranks carry the C_i counts
    )
    # classify array per group, built from driver state: per boundary
    # (_bv = value at rank R_i, _RC = R_i − C_i = the boundary's rank
    # within its tie run). Duplicate boundary values are kept as
    # separate entries — the fold counts each crossed boundary once,
    # which is exactly how adjacent buckets collapse to zero width.
    per_group: dict = {}
    for (gk, t), s in state.items():
        i = int(t[1:])
        r_i = (s["n"] * (i + 1) - 1) // k + 1
        per_group.setdefault(gk, {"group": s["group"], "b": []})[
            "b"
        ].append((i, s["lo"], s["rank"], r_i))
    arr_rows = []
    for d in per_group.values():
        arr_rows.append(
            (
                *d["group"],
                [(bv, res) for _i, bv, res, _r in sorted(d["b"])],
                sorted({bv for _i, bv, _res, _r in d["b"]}),
            )
        )
    arr_schema = T.StructType(
        _group_fields(df, group_cols)
        + [
            T.StructField(
                "_arr",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("_bv", T.LongType(), False),
                            T.StructField("_RC", T.LongType(), False),
                        ]
                    )
                ),
                False,
            ),
            T.StructField("_bvals", T.ArrayType(T.LongType()), False),
        ]
    )
    garr = spark.createDataFrame(arr_rows, arr_schema)
    base = df.join(F.broadcast(garr), on=group_cols)
    is_tie = F.array_contains(F.col("_bvals"), v)
    nontie = base.filter(~is_tie).withColumn(
        out_col,
        F.size(F.filter("_arr", lambda x: v > x["_bv"])).cast("long"),
    )
    # tie runs: rank inside the run. |tie run| <= group n, and every
    # n is already in the collected narrowing state — small groups
    # take ONE direct window (bounded single-task sort); large ones
    # keep the banded two-level cascade (see docstring point 4).
    tie_bucket = F.size(
        F.filter(
            "_arr",
            lambda x: (v > x["_bv"])
            | ((v == x["_bv"]) & (F.col("_tr") > x["_RC"])),
        )
    ).cast("long")
    max_n = max((s["n"] for s in state.values()), default=0)
    if 0 < max_n <= _tie_direct_cap(spark):
        wdir = Window.partitionBy(*group_cols, value_col).orderBy(id_col)
        tie = (
            base.filter(is_tie)
            .withColumn("_tr", F.row_number().over(wdir))
            .withColumn(out_col, tie_bucket)
        )
    else:
        tie = base.filter(is_tie).withColumn(
            "_band", F.expr(f"{id_col} div {tie_band}")
        )
        bandc = tie.groupBy(*group_cols, value_col, "_band").agg(
            F.count("*").alias("_bc")
        )
        wcarry = (
            Window.partitionBy(*group_cols, value_col)
            .orderBy("_band")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        bandc = bandc.withColumn(
            "_carry", F.coalesce(F.sum("_bc").over(wcarry), F.lit(0))
        ).drop("_bc")
        wband = Window.partitionBy(
            *group_cols, value_col, "_band"
        ).orderBy(id_col)
        tie = (
            tie.withColumn("_rn", F.row_number().over(wband))
            .join(bandc, on=[*group_cols, value_col, "_band"])
            .withColumn("_tr", F.col("_carry") + F.col("_rn"))
            .withColumn(out_col, tie_bucket)
        )
    out_cols = [*df.columns, out_col]
    return nontie.select(*out_cols).unionByName(tie.select(*out_cols))


def cms_bucket(token: Column, seed: int, width: int) -> Column:
    """Count-min bucket for one hash row. xxhash64 (JVM-native,
    codegen'd — ~half the cost of the md5 path) is safe here because
    the sketch shapes COST, not the answer: the exact verify pass
    makes the final result independent of the bucket hash, so the
    oracle never needs to reproduce it (unlike minhash/simhash
    signatures, which ARE the certified output and stay md5)."""
    h = F.xxhash64(F.lit(seed), token)
    return F.pmod(h, F.lit(width)).cast("long")


def cms_cells(
    tok_df: DataFrame,
    token_col: str = "tok",
    width: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """Count-min sketch of an occurrence stream as a (seed, bucket,
    est) table — at most ``depth·width`` rows regardless of corpus or
    vocabulary size, and ADDITIVE: sketches of two corpus slices
    merge by summing ``est`` per (seed, bucket), which is what the
    streaming path exploits (:func:`cms_spec`)."""
    t = F.col(token_col)
    return (
        tok_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("seed"),
                            cms_bucket(t, i, width).alias("bucket"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("c")
        )
        .select("c.seed", "c.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("est"))
    )


def cms_screen_verify(
    tok_df: DataFrame,
    cells: DataFrame,
    token_col: str = "tok",
    k: int = 100,
    width: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """The exact verify pass over a (possibly accumulated) sketch:
    occurrences whose MINIMUM bucket estimate clears the threshold
    (est·k > total) re-aggregate exactly by token; CMS only ever
    over-counts, so the screen never drops a true heavy hitter and
    the final integer filter ``freq·k > total`` is EXACT. ``cells``
    may cover MORE data than ``tok_df`` (a streaming sketch vs the
    staged corpus) — estimates only grow, so the superset guarantee
    is preserved."""
    from vnavc_spark.cache import tracked_persist

    t = F.col(token_col)
    # the sketch (≤ depth·width rows) feeds depth broadcast slices
    # plus the total — persist it or every consumer replays its full
    # lineage (measured: 12 corpus scans in the unpersisted plan)
    cells = tracked_persist(cells, "cms_cells")
    total = cells.filter(F.col("seed") == 0).agg(
        F.sum("est").alias("total")
    )
    screened = tok_df
    for i in range(depth):
        slice_i = cells.filter(F.col("seed") == i).select(
            F.col("bucket").alias(f"_b{i}"), F.col("est").alias(f"_e{i}")
        )
        screened = screened.withColumn(
            f"_b{i}", cms_bucket(t, i, width)
        ).join(F.broadcast(slice_i), on=f"_b{i}")
    screened = (
        screened.crossJoin(F.broadcast(total))
        .filter(
            F.least(*[F.col(f"_e{i}") for i in range(depth)]) * k
            > F.col("total")
        )
        .select(token_col)
    )
    return (
        screened.groupBy(token_col)
        .agg(F.count("*").cast("long").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * k > F.col("total"))
        .select(token_col, "freq")
    )


def cms_heavy_hitters(
    tok_df: DataFrame,
    token_col: str = "tok",
    k: int = 100,
    width: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """EXACT frequent items (freq·k > total) with a count-min-sketch
    candidate screen (Cormode & Muthukrishnan 2005) — the scalable
    heavy-hitter shape for corpus-sized vocabularies (word n-grams,
    URL hosts, shingle hashes).

    Two passes over the occurrence stream:

    1. **Sketch pass** — every occurrence hashes into ``depth`` rows
       of a ``width``-bucket count-min sketch. The groupBy output is
       at most ``depth·width`` rows REGARDLESS of corpus or
       vocabulary size, so the shuffle is constant and the sketch
       broadcasts everywhere.
    2. **Verify pass** — occurrences whose MINIMUM bucket estimate
       clears the threshold (est·k > total) re-aggregate exactly by
       token. CMS estimates only ever over-count, so the screen can
       never drop a true heavy hitter: the final
       ``freq·k > total`` filter over exact counts makes the result
       EXACT (the sketch affects cost, not the answer — the oracle
       is plain SQL).

    Why not a plain ``groupBy(token)``: its shuffle ships every
    distinct token each map task touches — corpus-sized for n-gram
    vocabularies at 100 TB. The screened shuffle ships only
    occurrences of candidate tokens: the true heavy hitters plus a
    bounded false-positive band (expected extra mass ≤ total/width
    per collision row). Buckets ride xxhash64 (see
    :func:`cms_bucket`): the sketch shapes cost, not the answer, so
    the oracle never needs to reproduce the candidate set.

    Integer-only threshold arithmetic (``freq·k > total``) — no
    float division anywhere, so results hash-certify on any engine.

    Returns (token_col, freq) for every token with freq·k > total.
    """
    return cms_screen_verify(
        tok_df,
        cms_cells(tok_df, token_col, width, depth),
        token_col,
        k,
        width,
        depth,
    )


def weighted_rank_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    places: int = 2,
    weight_places: int = 2,
    n_buckets: int = 4096,
    max_rounds: int = 12,
    max_groups: int = RANK_MAX_GROUPS,
) -> DataFrame:
    """EXACT per-group WEIGHTED lower median at unbounded scale: the
    smallest value v whose cumulative weight mass reaches half the
    group total (⌈W/2⌉ over scaled-integer weights) — e.g. the
    quantity-weighted median price. Same zero-buffering narrowing
    contract as :func:`exact_rank_select`; the only change is that
    every occurrence carries its integer weight mass through the
    first aggregate and the per-round bucket tallies, so cost and
    driver state are IDENTICAL to the unweighted path (weights ride
    inside the existing aggregates — no extra pass). Non-positive
    weights drop.

    Returns (group_cols..., total_weight, wmedian) with
    ``total_weight`` descaled to the weight column's unit.
    """
    from pyspark.sql import types as T

    wscale = 10**weight_places
    state, scale, spark = _exact_ranks_core(
        df,
        group_cols,
        value_col,
        {"_r": lambda w: (w + 1) // 2},
        places,
        n_buckets,
        max_rounds,
        max_groups,
        weight_col=weight_col,
        weight_places=weight_places,
    )
    out_rows = [
        (*s["group"], s["n"] / wscale, s["lo"] / scale)
        for s in state.values()
    ]
    schema = T.StructType(
        _group_fields(df, group_cols)
        + [
            T.StructField("total_weight", T.DoubleType(), False),
            T.StructField("wmedian", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


def weighted_quantile_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int,
    q_den: int,
    places: int = 2,
    weight_places: int = 2,
    n_buckets: int = 4096,
    max_rounds: int = 12,
    max_groups: int = RANK_MAX_GROUPS,
) -> DataFrame:
    """EXACT weighted quantile at unbounded scale — the
    :func:`weighted_rank_select` machinery generalized to any
    rational quantile q_num/q_den: the smallest value whose
    cumulative weight mass reaches rank
    ``(q_num·W + q_den - 1) div q_den`` (⌈q·W⌉, lower-value
    convention). An oracle MUST mirror this exact floor-div form —
    the cross-multiplied rendering ``cum·q_den >= q_num·W + q_den −
    1`` is NOT equivalent (it demands one extra unit of mass
    whenever q_den divides q_num·W: q=1/2, W=8 → rank 4 vs cum ≥ 5 —
    the even-total-mass off-by-one that bit q123's first oracle).
    Same zero-buffering cost shape as the weighted median (which is
    the q=1/2 special case).

    Returns (group_cols..., total_weight, qvalue).
    """
    from pyspark.sql import types as T

    wscale = 10**weight_places
    rank_fn = lambda w: (q_num * w + q_den - 1) // q_den  # noqa: E731
    state, scale, spark = _exact_ranks_core(
        df,
        group_cols,
        value_col,
        {"_r": rank_fn},
        places,
        n_buckets,
        max_rounds,
        max_groups,
        weight_col=weight_col,
        weight_places=weight_places,
    )
    out_rows = [
        (*s["group"], s["n"] / wscale, s["lo"] / scale)
        for s in state.values()
    ]
    schema = T.StructType(
        _group_fields(df, group_cols)
        + [
            T.StructField("total_weight", T.DoubleType(), False),
            T.StructField("qvalue", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


def robust_location(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim_frac_den: int = 10,
    mode: str = "trim",
    places: int = 2,
    n_buckets: int = 4096,
) -> DataFrame:
    """EXACT trimmed or winsorized mean per group at unbounded scale
    — the shared engine behind queries.q178 (``mode="trim"``: DROP
    the lowest and highest k = ⌊n/trim_frac_den⌋ values by rank) and
    queries.q181 (``mode="winsorize"``: CLAMP them to the boundary
    values at ranks k+1 and n−k, so n never shrinks).

    Two passes past the selector: :func:`exact_rank_multi` resolves
    BOTH boundary values in one shared narrowing sequence, then ONE
    conditional aggregate with the broadcast boundary table computes
    the strictly-below / strictly-above sums and counts. Rank-exact
    trimming falls out as integer tie arithmetic — the k−C boundary-
    tie copies excluded at each end are copies of the boundary value
    — and winsorizing is the clamp identity (every value below the
    rank-(k+1) value IS one of the k lowest, so
    ``clamp(v, lo, hi)`` replaces exactly the trimmed-by-rank set).
    No corpus sort, no per-group buffering; values ride as exact
    scaled integers; ONE terminal division chain
    (sum / kept / 10^places) — mirror it verbatim in any oracle.

    Returns (group_cols..., n_rows, n_kept, n_clamped, mean) where
    ``mean`` is the trimmed or winsorized mean, ``n_kept`` = n − 2k
    (trim) or n (winsorize), and ``n_clamped`` counts the values
    strictly outside the boundaries (0 ≤ n_clamped ≤ 2k)."""
    if mode not in ("trim", "winsorize"):
        raise ValueError(f"robust_location: unknown mode {mode!r}")
    from vnavc_spark.functions.portable import stable_round

    scale = 10**places
    bounds = exact_rank_multi(
        df,
        group_cols,
        value_col,
        targets={
            "lo": lambda n: n // trim_frac_den + 1,
            "hi": lambda n: n - n // trim_frac_den,
        },
        places=places,
        n_buckets=n_buckets,
    ).select(
        *group_cols,
        "target",
        F.floor(F.col("value") * scale + F.lit(0.5))
        .cast("long")
        .alias("vc"),
    )
    bnds = bounds.groupBy(*group_cols).agg(
        F.max(F.when(F.col("target") == "lo", F.col("vc"))).alias("lo_c"),
        F.max(F.when(F.col("target") == "hi", F.col("vc"))).alias("hi_c"),
    )
    vc = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("long")
    j = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, vc.alias("vc"))
        .join(F.broadcast(bnds), on=group_cols)
    )
    below = F.col("vc") < F.col("lo_c")
    above = F.col("vc") > F.col("hi_c")
    a = j.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vc").cast("long").alias("s_tot"),
        F.sum(F.when(below, F.col("vc")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s_lt"),
        F.sum(F.when(below, 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_lt"),
        F.sum(F.when(above, F.col("vc")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s_gt"),
        F.sum(F.when(above, 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_gt"),
        F.max("lo_c").alias("lo_c"),
        F.max("hi_c").alias("hi_c"),
    )
    k = F.expr(f"n div {trim_frac_den}")
    if mode == "trim":
        kept = (F.col("n") - 2 * k).cast("long")
        num = (
            F.col("s_tot")
            - (F.col("s_lt") + (k - F.col("c_lt")) * F.col("lo_c"))
            - (F.col("s_gt") + (k - F.col("c_gt")) * F.col("hi_c"))
        )
    else:
        kept = F.col("n").cast("long")
        # clamp identity: subtract the outside sums, add count x bound
        num = (
            F.col("s_tot")
            - F.col("s_lt")
            - F.col("s_gt")
            + F.col("c_lt") * F.col("lo_c")
            + F.col("c_gt") * F.col("hi_c")
        )
    return a.select(
        *group_cols,
        F.col("n").alias("n_rows"),
        kept.alias("n_kept"),
        (F.col("c_lt") + F.col("c_gt")).cast("long").alias("n_clamped"),
        stable_round(
            num.cast("double")
            / kept.cast("double")
            / F.lit(float(scale)),
            6,
        ).alias("mean"),
    )


#: Benford first-digit micro-probabilities: round(log10(1 + 1/d)·1e6)
#: for d = 1..9 — FIXED integer literals (they sum to exactly
#: 1,000,000) shared by queries.q188's oracle, so the expected count
#: n·p is an exact integer product on both engines and log10 never
#: has to be bit-portable.
BENFORD_PM = [301030, 176091, 124939, 96910, 79181, 66947, 57992,
              51153, 45757]


def benford_gate_from_digit_counts(
    obs: DataFrame, group_col: str = "pri"
) -> DataFrame:
    """Benford first-digit χ² gate per group from a pre-aggregated
    (group, d, obs) first-digit count table — the math core of
    queries.q188, factored out so the streaming twin
    (:func:`benford_spec`) sums its additive per-batch digit
    partials into the same count table and gets streaming == batch
    as an identity (the q170/q186/q194 twin pattern: one math core,
    two drivers).

    Input contract: ``obs`` holds exact long counts per (group,
    first digit 1..9) with zero-count digits simply absent (the
    9-digit spine is rebuilt here). Everything downstream of the
    count table is 9 × |groups| rows; the only float reduction is
    the fixed left-associated 9-term sum over pivoted digit columns
    — one evaluation order on both engines. Flags at the χ²(8 df)
    p = 0.995 literal (21.955)."""
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import stable_round

    obs = tracked_persist(obs, f"benford_obs:{group_col}")
    digits = obs.sparkSession.createDataFrame(
        [(i + 1, pm) for i, pm in enumerate(BENFORD_PM)], "d int, pm long"
    )
    tot = obs.groupBy(group_col).agg(
        F.sum("obs").cast("long").alias("n")
    )
    grid = (
        tot.crossJoin(F.broadcast(digits))
        .join(obs, [group_col, "d"], "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0).cast("long")))
    )
    e = (F.col("n") * F.col("pm")).cast("double") / F.lit(1000000.0)
    diff = F.col("obs").cast("double") - e
    cc = grid.select(
        group_col, "n", "d", (diff * diff / e).alias("contrib")
    )
    piv = cc.groupBy(group_col, "n").agg(
        *[
            F.sum(
                F.when(F.col("d") == F.lit(i), F.col("contrib")).otherwise(
                    F.lit(0.0)
                )
            ).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    chi2 = (
        F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4")
        + F.col("c5") + F.col("c6") + F.col("c7") + F.col("c8")
        + F.col("c9")
    )
    return piv.select(
        group_col,
        F.col("n").alias("n_rows"),
        stable_round(chi2, 6).alias("chi2_stat"),
        F.when(chi2 > F.lit(21.955), 1).otherwise(F.lit(0)).alias(
            "benford_flag"
        ),
    )


def benford_summation_from_digit_masses(
    obs: DataFrame, group_col: str = "seg"
) -> DataFrame:
    """Nigrini summation test per group from a pre-aggregated
    (group, d, m) first-digit MASS table — the math core of
    queries.q205, factored so the streaming twin
    (:func:`benford_summation_spec`) sums its additive per-batch
    digit-mass partials into the same table and gets streaming ==
    batch as an identity (the q188 twin pattern, mass-weighted).

    Input contract: ``m`` holds exact long cent masses per (group,
    first digit 1..9), zero-mass digits simply absent (the 9-digit
    spine is rebuilt here). The uniform n/9 expectation is tested as
    Σ(9·m_d − n)²/(9n): the numerator squares in EXACT decimal(38,0)
    (cent masses overflow long·long at 100 TB) and converts ONCE to
    double for the terminal division; the 9 cells pivot to columns
    and sum as one fixed left-associated expression. The 21.955 flag
    literal is the χ²(8 df) p = 0.995 convention shared with q188
    (a convention here — the summation statistic is not
    χ²-calibrated)."""
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import stable_round

    obs = tracked_persist(obs, f"benford_sum_obs:{group_col}")
    tot = obs.groupBy(group_col).agg(
        F.sum("m").cast("long").alias("n")
    )
    grid = (
        tot.select(
            group_col,
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("d"),
        )
        .join(obs, [group_col, "d"], "left")
        .withColumn("m", F.coalesce("m", F.lit(0).cast("long")))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    diff = F.lit(9) * dec("m") - dec("n")
    contrib = (diff * diff).cast("double") / (
        F.lit(9) * dec("n")
    ).cast("double")
    piv = grid.select(
        group_col, "n", "d", contrib.alias("contrib")
    ).groupBy(group_col, "n").agg(
        *[
            F.sum(
                F.when(F.col("d") == F.lit(i), F.col("contrib")).otherwise(
                    F.lit(0.0)
                )
            ).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    stat = (
        F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4")
        + F.col("c5") + F.col("c6") + F.col("c7") + F.col("c8")
        + F.col("c9")
    )
    return piv.select(
        group_col,
        F.col("n").alias("total_mass"),
        stable_round(stat, 6).alias("sum_stat"),
        F.when(stat > F.lit(21.955), 1).otherwise(F.lit(0)).alias(
            "summation_flag"
        ),
    )


def brier_decomposition_from_counts(
    c: DataFrame,
    group_col: str = "g",
    forecast_col: str = "t",
    forecast_denom: int = 1000,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score from a
    pre-aggregated (group, forecast-level, n, p) count table — the
    CALIBRATION companion to the discrimination metrics (AUC/AP/KS):
    Brier = RELIABILITY − RESOLUTION + UNCERTAINTY, where
    reliability Σ n_k(f_k − p_k/n_k)²/N measures how far the
    forecast levels sit from their observed rates (0 = perfectly
    calibrated), resolution Σ n_k(p_k/n_k − π)²/N measures how much
    the levels separate the base rate, and uncertainty π(1 − π) is
    the irreducible term. With binary labels the per-level Brier
    mass is exactly n_k·f_k² − 2·f_k·p_k + p_k, so all three
    components (and the identity) are computable from the SAME tiny
    count table — no second corpus pass.

    Input contract: ``forecast_col`` is the forecast as an INTEGER
    numerator (f_k = t_k / forecast_denom — the cents/per-mille
    stance, so both engines see the identical rational), ``n`` / ``p``
    exact long counts (p ≤ n). Cross-engine determinism: every term
    is a fixed double tree over exactly-representable integer-valued
    doubles, quantized floor(x·1e9 + 0.5) BEFORE the per-group sum
    (``functions.portable.exact_sum``) — order-independent integer
    sums, the q217 stance. The Brier identity then holds to the
    quantization (pinned in tests), not to float luck.

    Scale shape: the count table is (groups × forecast levels)-sized
    — built by one map-side combinable aggregation upstream; this
    function is arithmetic over that grid plus a broadcast totals
    join. Output: (group, n, brier, reliability, resolution,
    uncertainty), stable_round(6)."""
    from vnavc_spark.functions.portable import exact_sum, stable_round

    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    denom = float(forecast_denom)
    denom2 = float(forecast_denom) * float(forecast_denom)
    tot = c.groupBy(group_col).agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("p").cast("long").alias("pp"),
    )
    j = c.join(F.broadcast(tot), group_col).filter(F.col("nn") >= 1)
    x = d(forecast_col) * d("n") - F.lit(denom) * d("p")
    rel_term = x * x / (d("n") * F.lit(denom2))
    y = d("p") * d("nn") - d("pp") * d("n")
    res_term = y * y / (d("n") * d("nn") * d("nn"))
    brier_term = (
        d("n") * d(forecast_col) * d(forecast_col)
        - F.lit(2.0 * denom) * d(forecast_col) * d("p")
        + F.lit(denom2) * d("p")
    ) / F.lit(denom2)
    a = j.groupBy(group_col, "nn", "pp").agg(
        exact_sum(brier_term, 9).alias("sb"),
        exact_sum(rel_term, 9).alias("srel"),
        exact_sum(res_term, 9).alias("sres"),
    )
    unc = d("pp") * (d("nn") - d("pp")) / (d("nn") * d("nn"))
    return a.select(
        group_col,
        F.col("nn").alias("n"),
        stable_round(F.col("sb") / d("nn"), 6).alias("brier"),
        stable_round(F.col("srel") / d("nn"), 6).alias("reliability"),
        stable_round(F.col("sres") / d("nn"), 6).alias("resolution"),
        stable_round(unc, 6).alias("uncertainty"),
    )


def pav_isotonic(levels: list) -> list:
    """Pool-Adjacent-Violators isotonic regression (Ayer et al. 1955;
    Barlow et al. 1972) over an ordered level histogram: ``levels``
    is a list of ``(n, p)`` pairs in increasing forecast order (n =
    observations at the level, p = positives); returns the fitted
    non-decreasing probability per level — the isotonic CALIBRATION
    map a quality-classifier gate applies when the reliability
    diagram (q218) shows miscalibration but the ORDER of the scores
    is trusted. Pure driver-side arithmetic on the contract-bounded
    level grid (the fellegi_sunter_em stance — the corpus never
    participates, so this runs identically at any scale).

    Exactness: blocks pool EXACT integer sums and violations compare
    via cross-multiplication (p_a·n_b > p_b·n_a — no float ordering
    anywhere); each fitted value is ONE terminal IEEE division
    sum_p/sum_n. The q221 oracle certifies this against the
    INDEPENDENT minimax closed form fitted[i] = max_{j≤i} min_{k≥j}
    avg(p[j..k]) (two different algorithms, equal as exact rationals
    — equal rationals divide to equal doubles, so the hash pins the
    algebraic identity, not shared code)."""
    blocks: list[list[int]] = []  # [sum_n, sum_p, width]
    for n, p in levels:
        n, p = int(n), int(p)
        if n < 0 or p < 0 or p > n:
            raise ValueError(f"malformed level (n={n}, p={p})")
        blocks.append([n, p, 1])
        # pool while the last block's rate exceeds... the PREVIOUS
        # one's (violation of non-decreasing fit), comparing exact
        # rationals p_prev/n_prev > p_last/n_last by cross-mult;
        # zero-n blocks pool into their neighbour (0/0 is orderless)
        while len(blocks) > 1 and (
            blocks[-2][0] == 0
            or blocks[-1][0] == 0
            or blocks[-2][1] * blocks[-1][0]
            > blocks[-1][1] * blocks[-2][0]
        ):
            n2, p2, w2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += p2
            blocks[-1][2] += w2
    out: list[float] = []
    for n, p, w in blocks:
        v = (p / n) if n else 0.0
        out.extend([v] * w)
    return out


def nelson_aalen_hazard(
    per: DataFrame,
    time_col: str = "t",
    event_col: str = "ev",
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator (Nelson 1972, Aalen
    1978) over right-censored durations — the survival-analysis
    readout retention/churn questions need: per distinct duration t,
    the at-risk count n(t) (subjects with duration ≥ t), events d(t),
    censored c(t), the hazard step d/n, and the cumulative hazard
    H(t) = Σ_{t_i ≤ t} d_i/n_i. Deliberately Nelson–Aalen rather
    than Kaplan–Meier for the CERTIFIED surface: H is a SUM of
    per-step terms — quantized floor(x·1e9 + 0.5) before
    order-independent integer cumulative sums (the q217 stance) —
    while the KM product S(t) = Π(1 − d/n) is a float product whose
    association order differs between engines' window implementations
    (segment trees vs running fold), making its hash luck-dependent;
    S(t) ≈ exp(−H(t)) when needed, and the per-step KM factors are
    recoverable from the emitted (d, n) columns exactly.

    ``per``: one row per subject with an integer duration
    ``time_col`` and 0/1 ``event_col`` (1 = event observed, 0 =
    right-censored at that duration). Scale shape: the duration grid
    is VALUE-DOMAIN bounded (days/buckets, not subjects); both
    passes are :func:`vnavc_spark.operators.ordering.ordered_cumsum`
    over that grid (the first derives n(t) from the ≤-t mass, the
    second accumulates the quantized hazard terms), plus one
    broadcast total."""
    from vnavc_spark.functions.portable import stable_round
    from vnavc_spark.operators.ordering import ordered_cumsum

    src = per.select(
        F.col(time_col).cast("long").alias("t"),
        F.lit(1).cast("long").alias("one"),
        F.col(event_col).cast("long").alias("ev"),
    )
    tot = src.agg(F.sum("one").cast("long").alias("nn"))
    c1 = ordered_cumsum(
        src, [], "t", mass_cols=["one", "ev"], slot="na_hazard_c1"
    ).crossJoin(F.broadcast(tot))
    risk = F.col("nn") - F.col("cum_one") + F.col("one")
    h_int = F.floor(
        F.col("ev").cast("double") / risk.cast("double")
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    g2 = c1.select(
        "t",
        F.col("one").alias("n_at"),
        F.col("ev").alias("d"),
        risk.cast("long").alias("risk"),
        h_int.alias("h_int"),
    )
    c2 = ordered_cumsum(
        g2,
        [],
        "t",
        mass_cols=["n_at", "d", "risk", "h_int"],
        slot="na_hazard_c2",
    )
    return c2.select(
        F.col("t").alias("t_day"),
        F.col("risk").alias("n_risk"),
        F.col("d").alias("d_events"),
        (F.col("n_at") - F.col("d")).cast("long").alias("c_censored"),
        stable_round(
            F.col("d").cast("double") / F.col("risk").cast("double"), 6
        ).alias("hazard"),
        stable_round(
            F.col("cum_h_int").cast("double") / F.lit(1000000000.0), 6
        ).alias("cum_hazard"),
    )


def k_anonymity_rollup(cls: DataFrame, k: int = 5) -> DataFrame:
    """Per-nation k-anonymity audit from a pre-aggregated QI-class
    count table (nk, seg, band, sz) — the math core of queries.q196,
    factored so the streaming twin (:func:`k_anonymity_spec`)
    sums its additive per-batch class-count partials into the same
    table and gets streaming == batch as an identity (the
    q170/q186/q188/q194/q202 twin pattern). Pure integer
    classes-sized reduction; a class is risky when its size is
    below ``k``."""
    risky = F.col("sz") < k
    return cls.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.sum(F.when(risky, 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_risky_classes"),
        F.sum(F.when(risky, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_risky_rows"),
    )


# ---------------------------------------------------------------------------
# Mergeable-partial specs (operators/mergeable.py): each batch query
# below and its streaming twin (streaming/ingest.TWINS) call the same
# partial and finalize.
# ---------------------------------------------------------------------------


def _cent_digit_cells(
    rows: DataFrame, group: Column, amount_col: str, cell: Column
) -> DataFrame:
    """Per-(group, first digit d) cells of the cent-scaled amount: the
    digit is the decimal-string head of floor(amount·100 + 0.5) (a
    ×100 scale never changes the leading significant digit);
    non-positive cents are dropped. ``cell`` aggregates the rows of a
    cell over their cents ``vc``."""
    v = rows.select(
        group,
        F.floor(F.col(amount_col) * 100 + F.lit(0.5))
        .cast("long")
        .alias("vc"),
    ).filter(F.col("vc") > 0)
    return v.groupBy(
        v.columns[0],
        F.substring(F.col("vc").cast("string"), 1, 1)
        .cast("int")
        .alias("d"),
    ).agg(cell)


def benford_spec() -> Spec:
    """q188's Benford gate per order priority. Partial: (pri, d, obs)
    first-digit counts, ≤ 9 rows per priority; merge: sum."""

    def partial(rows: DataFrame) -> DataFrame:
        return _cent_digit_cells(
            rows.filter(F.col("o_totalprice").isNotNull()),
            F.col("o_orderpriority").alias("pri"),
            "o_totalprice",
            F.count("*").cast("long").alias("obs"),
        )

    def finalize(obs: DataFrame) -> DataFrame:
        return benford_gate_from_digit_counts(obs, "pri").select(
            F.col("pri").alias("o_orderpriority"),
            F.col("n_rows").alias("n_orders"),
            "chi2_stat",
            "benford_flag",
        )

    return Spec(partial, merge_by("pri", "d"), finalize)


def benford_summation_spec() -> Spec:
    """q205's Nigrini summation test per market segment. Rows carry
    the customer segment as ``seg`` (the dimension join runs upstream
    of the partial). Partial: (seg, d, m) first-digit cent masses;
    merge: sum."""

    def partial(rows: DataFrame) -> DataFrame:
        return _cent_digit_cells(
            rows.filter(
                F.col("o_totalprice").isNotNull() & F.col("seg").isNotNull()
            ),
            F.col("seg"),
            "o_totalprice",
            F.sum("vc").cast("long").alias("m"),
        )

    def finalize(obs: DataFrame) -> DataFrame:
        return benford_summation_from_digit_masses(obs, "seg").select(
            F.col("seg").alias("c_mktsegment"),
            F.col("total_mass").alias("total_cents"),
            "sum_stat",
            "summation_flag",
        )

    return Spec(partial, merge_by("seg", "d"), finalize)


def hll_spec(b: int = 6) -> Spec:
    """q47's HLL distinct count of customers per order priority. The
    partial stages two frames: ``regs`` (g, _reg, _M) register maxima,
    max-merged, and ``vals`` (g, v) distinct pairs for the exact
    anchor (countDistinct ignores repeats, so they merge by union).
    Only value nulls drop; a null group is kept, as in the batch core.

    GUARD: registers are staged at a fixed ``b``. Merging them at a
    smaller ``b`` is detectable (a staged register index lands outside
    [0, 2^b)) and refused — 2^b would mis-scale the estimate. A larger
    ``b`` than staged is not detectable; keep b with the partials.

    q47 itself stays on :func:`hll_deterministic` (countDistinct over
    the raw rows), which shares the register core and the readout."""

    def partial(rows: DataFrame) -> dict:
        r = rows.filter(F.col("o_custkey").isNotNull()).select(
            F.col("o_orderpriority").alias("g"),
            F.col("o_custkey").alias("v"),
        )
        return {
            "regs": hll_register_maxima(r, ["g"], "v", b),
            "vals": r.distinct(),
        }

    def merge(staged: dict) -> dict:
        regs = merge_by("g", "_reg", how="max")(staged["regs"])
        if regs.filter(F.col("_reg") >= F.lit(1 << b)).limit(1).count():
            raise ValueError(
                f"hll: staged registers hold indices >= 2^{b} — the "
                "partials were staged at a larger b than requested; "
                "pass the stage-time b"
            )
        return {"regs": regs, "vals": staged["vals"]}

    def finalize(m: dict) -> DataFrame:
        out = _hll_readout(m["regs"], m["vals"], ["g"], "v", b)
        return out.withColumnRenamed("g", "o_orderpriority")

    return Spec(partial, merge, finalize, frames=("regs", "vals"))


def kmv_spec(k: int = 64) -> Spec:
    """q86's KMV/theta sketches of customers per order priority.
    Partial: distinct (g, v) pairs (the pair set cannot shrink to a
    sketch: n_exact and the theta sample need it); merge: set union.
    q86 itself calls :func:`kmv_distinct` directly, which distincts
    its input first."""

    def partial(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col("o_orderpriority").alias("g"), F.col("o_custkey").alias("v")
        ).distinct()

    def finalize(pairs: DataFrame) -> DataFrame:
        return kmv_distinct(pairs, ["g"], "v", k=k).select(
            F.col("g").alias("o_orderpriority"),
            "n_sample",
            "kmv_estimate",
            "theta_estimate",
            "n_exact",
        )

    return Spec(partial, distinct_merge, finalize)


def cms_spec(
    token_col: str = "tok", width: int = 16384, depth: int = 3
) -> Spec:
    """The count-min sketch that screens q116's heavy hitters.
    Partial: :func:`cms_cells` (≤ depth·width rows whatever the
    vocabulary); merge: sum; finalize: the cells themselves, which
    :func:`cms_screen_verify` turns into exact heavy hitters."""

    return Spec(
        lambda rows: cms_cells(rows, token_col, width, depth),
        merge_by("seed", "bucket"),
        lambda cells: cells,
    )


def hhi_spec() -> Spec:
    """q194's HHI / effective-source concentration per language.
    Partial: (lang, source, mc) character mass; merge: sum. Squared
    shares are not additive, so HHI is computed only in finalize, in
    exact decimal(38,0)."""
    from vnavc_spark.functions.portable import stable_round

    def partial(rows: DataFrame) -> DataFrame:
        return rows.filter(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("n_chars").isNotNull()
            & (F.col("n_chars") > 0)
        ).groupBy("lang", "source").agg(
            F.sum("n_chars").cast("long").alias("mc")
        )

    def finalize(m: DataFrame) -> DataFrame:
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        a = m.groupBy("lang").agg(
            F.count("*").cast("long").alias("n_sources"),
            F.sum(dec("mc") * dec("mc")).alias("sq"),
            F.sum("mc").cast("long").alias("tot"),
        )
        dd = lambda c: F.col(c).cast("double")  # noqa: E731
        return a.filter(F.col("tot") > 0).select(
            "lang",
            "n_sources",
            stable_round(
                dd("sq") * F.lit(10000.0) / (dd("tot") * dd("tot")), 6
            ).alias("hhi"),
            stable_round(dd("tot") * dd("tot") / dd("sq"), 6).alias(
                "effective_sources"
            ),
        )

    return Spec(partial, merge_by("lang", "source"), finalize)


def k_anonymity_spec() -> Spec:
    """q196's k<5 anonymity audit per nation. Partial: (nk, seg, band,
    sz) quasi-identifier class sizes (nation, market segment,
    account-balance kilo-band); merge: sum — a class split across
    batches is judged on its corpus-wide size."""

    def partial(rows: DataFrame) -> DataFrame:
        return rows.filter(
            F.col("c_nationkey").isNotNull()
            & F.col("c_mktsegment").isNotNull()
            & F.col("c_acctbal").isNotNull()
        ).groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("long")
            .alias("band"),
        ).agg(F.count("*").cast("long").alias("sz"))

    return Spec(
        partial,
        merge_by("nk", "seg", "band"),
        lambda cls: k_anonymity_rollup(cls, k=5),
    )


def twa_events(rows: DataFrame) -> DataFrame:
    """q182's row extraction: non-null (ts, value) events with the
    value as exact cents ``vc``."""
    return rows.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )


def twa_intervals(events: DataFrame) -> DataFrame:
    """Each event's holding interval: ``nxt`` is the user's next event
    time and ``dur`` its length in µs (null for the user's last event,
    whose interval is still open)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.withColumn("nxt", F.lead("ts").over(w)).withColumn(
        "dur",
        F.unix_micros(F.col("nxt").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp")),
    )


def twa_spec() -> Spec:
    """q182's time-weighted average value per event type. The partial
    takes :func:`twa_events` rows (the twin unions its carried
    per-user last events in before the partial, so the extraction
    stays outside) and aggregates the CLOSED intervals to
    (event_type, n_intervals, num, den) exact cents×µs sums; merge:
    sum; finalize: one terminal division chain."""
    from vnavc_spark.functions.portable import stable_round

    def partial(events: DataFrame) -> DataFrame:
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        return (
            twa_intervals(events)
            .filter(F.col("dur").isNotNull())
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_intervals"),
                F.sum(dec("vc") * dec("dur")).alias("num"),
                F.sum(dec("dur")).alias("den"),
            )
        )

    def finalize(a: DataFrame) -> DataFrame:
        return a.select(
            "event_type",
            "n_intervals",
            stable_round(
                F.col("num").cast("double")
                / F.col("den").cast("double")
                / F.lit(100.0),
                6,
            ).alias("twa_value"),
        )

    return Spec(partial, merge_by("event_type"), finalize)


def session_survival_spec(gap_s: int = 1800, horizon_s: int = 1800) -> Spec:
    """q223's Nelson–Aalen session-length hazard. Partial: per-user
    session spans (user_id, f, l) in epoch seconds. Spans are
    mergeable: sessionizing the union of batches equals merging the
    per-batch spans with the gap rule (a span's endpoints are its
    extreme events, so the smallest event gap between two spans is
    their endpoint gap; overlapping spans merge at negative gap).
    Finalize: durations in minutes, right-censored when a session
    ends within ``horizon_s`` of the corpus end."""
    from vnavc_spark.operators.intervals import session_intervals

    def partial(rows: DataFrame) -> DataFrame:
        return session_intervals(
            rows.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()),
            gap_s=gap_s,
        ).select(
            "user_id",
            F.unix_timestamp("s_start").alias("f"),
            F.unix_timestamp("s_end").alias("l"),
        )

    def merge(spans: DataFrame) -> DataFrame:
        # running-max end carried BEFORE each span, so overlapping
        # replays and split sessions collapse as the event-level
        # sessionizer would
        w = Window.partitionBy("user_id").orderBy("f", "l")
        prev_end = F.max("l").over(w.rowsBetween(Window.unboundedPreceding, -1))
        new = F.when(
            prev_end.isNull() | (F.col("f") - prev_end > gap_s), 1
        ).otherwise(0)
        gid = F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            spans.withColumn("_new", new)
            .withColumn("_gid", gid)
            .groupBy("user_id", "_gid")
            .agg(F.min("f").alias("f"), F.max("l").alias("l"))
        )

    def finalize(spans: DataFrame) -> DataFrame:
        m = spans.agg(F.max("l").alias("gm"))
        per = spans.crossJoin(F.broadcast(m)).select(
            F.floor((F.col("l") - F.col("f")) / F.lit(60.0))
            .cast("long")
            .alias("t"),
            F.when(F.col("gm") - F.col("l") < horizon_s, 0)
            .otherwise(1)
            .alias("ev"),
        )
        return nelson_aalen_hazard(per, "t", "ev")

    return Spec(partial, merge, finalize)
