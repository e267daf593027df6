"""Deterministic sampling operators (SURVEY.md G11 / F4).

The reference samples with ``random.sample`` (``whisper_qc.py:230-242``,
``crawler/utils.py:61-65``) — irreproducible across runs. We replace
randomness with a cryptographic-hash order: rank rows per group by
``md5(salt || key)`` and keep the first k. Deterministic, seedable
via the salt, engine-portable (the DuckDB oracle computes the same
digests), and — unlike ``DataFrame.sampleBy`` — gives *exact* k per
group in one window pass, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_order(key_cols: list[str], salt: str):
    concat = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    return F.md5(F.concat(F.lit(salt), concat))


def exact_k_per_group(
    df: DataFrame,
    group: str | list[str],
    key: str | list[str],
    pct: float = 0.05,
    min_k: int = 1,
    salt: str = "vnavc",
    keep_rank: bool = False,
) -> DataFrame:
    """G11: per-group exact-k sample, k = max(min_k, ceil(pct·n)) —
    the reference's per-book 5% WER sample (floor 1). One window over
    the group partition; at scale this is a single shuffle on the
    group key (usually already the partition key upstream)."""
    groups = [group] if isinstance(group, str) else list(group)
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*groups).orderBy(_hash_order(keys, salt), *keys)
    k = F.greatest(
        F.lit(min_k).cast("long"),
        F.ceil(F.count("*").over(Window.partitionBy(*groups)) * F.lit(pct)),
    )
    out = df.withColumn("_rn", F.row_number().over(w)).withColumn("_k", k)
    out = out.filter(F.col("_rn") <= F.col("_k"))
    return out if keep_rank else out.drop("_rn", "_k")


def exact_k_global(
    df: DataFrame,
    key: str | list[str],
    k: int,
    salt: str = "vnavc",
) -> DataFrame:
    """F4: exact-k global sample (reference ``random.sample(urls, k)``).
    Hash-order + limit: a TakeOrderedAndProject, no full sort
    materialization."""
    keys = [key] if isinstance(key, str) else list(key)
    return (
        df.withColumn("_h", _hash_order(keys, salt))
        .orderBy("_h", *keys)
        .limit(k)
        .drop("_h")
    )


def temperature_mixture(
    df: DataFrame,
    domain: str,
    weight_col: str,
    key: str | list[str],
    total: int,
    salt: str = "vnavc",
    places: int = 6,
) -> DataFrame:
    """Temperature-based domain mixture resampling (the multilingual /
    multi-source rebalancing rule: sample domain i proportionally to
    ``vol_i^α`` with α = 0.5, so low-resource domains are up-weighted
    relative to their raw share).

    α is fixed at 0.5 because ``sqrt`` is IEEE exact-rounded — the
    one power that hash-certifies across engines (``pow``/``exp`` are
    transcendental and differ in the last ulp between JVM and libm);
    for other temperatures swap the weight expression and accept a
    rows-only check.

    Shape: per-domain volume agg (map-side partial, integer sum) →
    sqrt-weights as scaled integers (order-independent total) →
    quota = floor(total·w/Σw) broadcast back → one window per domain
    ranks rows by deterministic md5 hash order and keeps ``quota``.
    The corpus shuffles ONCE on the domain key; quotas ride a
    broadcast. Appends (quota, rk) columns.
    """
    keys = [key] if isinstance(key, str) else list(key)
    scale = float(10**places)
    stats = df.groupBy(domain).agg(F.sum(weight_col).alias("_vol"))
    weights = stats.select(
        domain,
        F.floor(
            F.sqrt(F.col("_vol").cast("double")) * scale + F.lit(0.5)
        ).alias("_w"),
    )
    tot = weights.agg(F.sum("_w").alias("_tot"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        domain,
        F.floor(
            (F.lit(total) * F.col("_w")).cast("double")
            / F.col("_tot").cast("double")
        ).alias("quota"),
    )
    w = Window.partitionBy(domain).orderBy(_hash_order(keys, salt), *keys)
    return (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(quotas), on=domain)
        .filter(F.col("rk") <= F.col("quota"))
    )


def stratified_split(
    df: DataFrame,
    strata: str,
    key: str | list[str],
    fractions: tuple[float, float] = (0.8, 0.9),
    salt: str = "split",
) -> DataFrame:
    """Deterministic stratified train/val/test split: within each
    stratum rows are ranked by md5 hash order and cut at
    ``floor(n·f)`` boundaries — exact per-stratum proportions, fully
    reproducible (same salt → same split on any cluster layout), and
    one window pass: a single shuffle on the stratum key, no
    sampling retries. Appends a ``split`` column."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(strata).orderBy(_hash_order(keys, salt), *keys)
    n = F.count("*").over(Window.partitionBy(strata))
    rn = F.row_number().over(w)
    lo, hi = fractions
    return df.withColumn(
        "split",
        F.when(rn <= F.floor(n.cast("double") * F.lit(lo)), "train")
        .when(rn <= F.floor(n.cast("double") * F.lit(hi)), "val")
        .otherwise("test"),
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int = 10,
) -> DataFrame:
    """Per-domain document cap — the CommonCrawl-style hygiene rule
    that stops one boilerplate-heavy domain from dominating a corpus.
    Keeps a deterministic hash-order sample of ≤ ``cap`` docs per
    domain (md5 order — no RNG, stable under re-runs/backfills) and
    reports kept vs seen per domain.

    Scale shape: one exchange on domain shared by the rank window
    and the count; rows carry (domain, id) only. Skewed domains are
    exactly the point — the window sort is per-domain top-cap, not a
    global sort."""
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    r = df.select(domain_col, id_col).withColumn(
        "_rn", F.row_number().over(w)
    )
    return r.groupBy(domain_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_rn") <= cap, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.min(F.when(F.col("_rn") <= cap, F.col(id_col)))
        .cast("long")
        .alias("first_kept"),
    )


def dsir_scores(
    docs: DataFrame,
    target_pred,
    id_col: str = "doc_id",
    tokens_col: str = "x",
) -> DataFrame:
    """DSIR-inspired importance scores for data selection (Xie et al.
    2023, arXiv:2302.03169 — hashed n-gram importance resampling),
    in a LOG-FREE integer form so any engine reproduces the scores
    bit-for-bit: instead of Σ log p_target/p_source over grams, each
    gram contributes the scaled integer ratio
    ``floor((df_target+1)·10⁶ / (df_corpus+1))`` (Laplace-smoothed
    document frequencies) and a document's score is the exact integer
    sum — monotone in the same direction, portable, and mergeable.

    Scale shape: distinct (doc, gram) explode → two map-side-
    combinable gram-frequency aggregates → join back on gram (the
    only shuffle that matters; gram tables are vocabulary-sized, far
    smaller than the corpus) → per-doc integer sum.

    Returns (id, n_grams, score_scaled, score) where score =
    score_scaled / (n_grams · 10⁶) — the mean per-gram ratio."""
    pairs = docs.select(
        id_col,
        target_pred.alias("_is_target"),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("g"),
    )
    freqs = pairs.groupBy("g").agg(
        F.count("*").alias("df_corpus"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("df_target"),
    )
    contrib = F.floor(
        (F.col("df_target") + 1) * 1000000 / (F.col("df_corpus") + 1)
    )
    scored = pairs.join(freqs, on="g").groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(contrib).cast("long").alias("score_scaled"),
    )
    return scored.withColumn(
        "score",
        F.floor(
            F.col("score_scaled") / (F.col("n_grams") * F.lit(1000000.0)) * 1000000.0
            + F.lit(0.5)
        )
        / 1000000.0,
    )


def pps_systematic(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic systematic probability-proportional-to-size
    sampling: lay every row's integer weight mass end-to-end in
    md5-hash order (reproducible "random" order, no RNG state), then
    take one row at every T/k mass step — a row is selected iff its
    mass span crosses a step boundary, with multiplicity = number of
    boundaries crossed (Σ mult = k exactly; a row heavier than T/k
    is drawn multiple times, the textbook PPS behavior). The
    selection rule is pure integer arithmetic
    (``(cum·k) div T > ((cum−w)·k) div T``), so the sample is
    engine-exact — unlike exponential-key (A-ES) weighted sampling,
    whose pow()/log() keys cannot be hash-certified across engines.

    ``strata_cols`` stratifies the draw: every stratum lays out its
    own mass line against its own total, and Σ mult = k PER STRATUM
    (the training-mixture contract: k docs from every source no
    matter how lopsided the corpus) — the unstratified call is the
    single-stratum special case of the same plan. Stratum columns
    must be non-null (filter or fill first; a null stratum would
    silently vanish through the join).

    Scale shape: the per-stratum cumulative sum is a TWO-LEVEL
    prefix sum — rows bucket by their hash's first byte-pair (256
    buckets per stratum), each bucket takes a local running sum,
    bucket totals carry forward through one 256-row-per-stratum
    window — so no global single-task sort exists at any stratum
    size. cum·k must fit int64: fine to ~10^14 stratum mass at
    k=10^4; the decimal(38) lift applies beyond. ENFORCED at
    runtime: a plan-side assert_true fails the job if any stratum's
    total·k would exceed int64 (non-ANSI Spark would otherwise wrap
    silently and corrupt the sample; DuckDB raises).

    Returns (strata_cols..., id_col, weight, cum_weight, mult) for
    selected rows (strata columns only when stratified).
    """
    sc = list(strata_cols or [])
    w = F.col(weight_col).cast("long")
    d = df.filter(w > 0).select(
        *sc,
        F.col(id_col),
        w.alias("_w"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    d = d.withColumn("_b", F.substring("_h", 1, 2))
    wl = (
        Window.partitionBy(*sc, "_b")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("_lcum", F.sum("_w").over(wl))
    btot = local.groupBy(*sc, "_b").agg(F.sum("_w").alias("_bt"))
    # ≤256 rows per stratum: the carry window is bounded by
    # construction, never corpus-sized
    wb = (
        Window.partitionBy(*sc)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = btot.withColumn(
        "_carry", F.coalesce(F.sum("_bt").over(wb), F.lit(0).cast("long"))
    ).select(*sc, "_b", "_carry")
    # the guard total is summed in decimal(38,0): a plain long sum
    # itself wraps silently past 2^63 under non-ANSI Spark, so a
    # long-typed guard total could arrive small/negative and PASS
    # the assert in exactly the regime it exists to catch (round-5
    # advice). The long _t stays for the div arithmetic, which the
    # guard has validated fits.
    tot = d.groupBy(*sc).agg(
        F.sum("_w").alias("_t"),
        F.sum(F.col("_w").cast("decimal(38,0)")).alias("_td"),
    )
    j = local.join(F.broadcast(carry), on=[*sc, "_b"]).withColumn(
        "_cum", F.col("_carry") + F.col("_lcum")
    )
    if sc:
        j = j.join(F.broadcast(tot), on=sc)
    else:
        j = j.crossJoin(F.broadcast(tot))
    # runtime overflow guard (round-4 advice): cum·k rides int64 and
    # non-ANSI Spark would WRAP silently past 2^63 (DuckDB raises) —
    # corrupting the sample with no error. The already-broadcast
    # total bounds every cum, so one cheap per-row assert makes an
    # oversize corpus fail loudly instead of sampling wrongly.
    # _td is COALESCED for the guard: an ungrouped aggregate over an
    # EMPTY corpus still emits one row with a NULL sum, and Catalyst
    # may push this single-column filter below the join onto that
    # row — assert_true(NULL) raises, so the empty corpus would die
    # in the guard that exists to protect the oversized one (seen as
    # a suite-order-dependent flake: the pushdown decision shifts
    # with the session's cached-plan state).
    j = j.filter(
        F.assert_true(
            F.coalesce(
                F.col("_td"), F.lit(0).cast("decimal(38,0)")
            )
            <= F.lit((2**63 - 1) // max(k, 1)).cast("decimal(38,0)"),
            F.lit(
                f"pps_systematic: total weight mass * k={k} exceeds "
                "int64 — rescale weights or lift to decimal(38,0)"
            ),
        ).isNull()
    )
    hi = F.expr(f"(_cum * {k}) div _t")
    lo = F.expr(f"((_cum - _w) * {k}) div _t")
    return (
        j.filter(hi > lo)
        .select(
            *sc,
            F.col(id_col),
            F.col("_w").alias("weight"),
            F.col("_cum").cast("long").alias("cum_weight"),
            (hi - lo).cast("long").alias("mult"),
        )
    )
