"""Incremental ingest via Structured Streaming (SURVEY.md §2.9).

The reference re-crawls by rewriting ``valid_book_urls.txt``
wholesale (``crawler/metadata.py:393-407``). The idiomatic Spark
path: new url/event records land as files (or a message bus) →
``readStream`` → watermarked dedup on the business key → append to
staging Parquet; plus tumbling-window throughput stats (the batch
analog is queries.q32).

State posture at scale: ``dropDuplicates`` keeps one state row per
key within the watermark horizon — the horizon bounds state size;
checkpointing makes ingest exactly-once into the Parquet sink.

Streaming twins. Each twinned statistic is one mergeable-partial
spec (``operators/mergeable.Spec``), defined beside its shared core
in ``aggregates``, ``ordering`` or ``dedup``; :data:`TWINS` lists
them. The stream side of every twin is :func:`start_partials` (each
micro-batch stages ``spec.partial`` of its own rows under
``batch_id=N``) and the read side is :func:`snapshot`
(``finalize(merge(staged))``), which equals the batch query
``finalize(partial(table))``. Exceptions, each named:

- hll stages two frames, ``regs`` and ``vals`` (``spec.frames``);
- twa keeps its own starter, :func:`start_twa_partials`, for its
  carried per-user state; its per-batch closed-interval aggregate and
  its finalize come from q182's spec (``aggregates.twa_spec``);
- contamination's spec closes over the benchmark hashes
  (``dedup.contamination_spec(bench_hashes)``).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from vnavc_spark.operators import aggregates, dedup, ordering
from vnavc_spark.operators.mergeable import Spec

#: incoming event-record schema (file stream needs it declared)
EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

URL_STREAM_SCHEMA = StructType(
    [
        StructField("audio_url", StringType()),
        StructField("text_url", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
    ]
)

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_json_stream(
    spark: SparkSession, path: str, schema: StructType = URL_STREAM_SCHEMA
) -> DataFrame:
    """File-source stream: each new JSON file in ``path`` is a
    micro-batch (S-ingest seam; swap for Kafka in production —
    same downstream plan)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .json(path)
    )


def dedup_stream(
    stream: DataFrame,
    key: str = "audio_url",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked streaming dedup (R5 online): keeps the first
    arrival per key within the watermark horizon; state is bounded by
    the horizon."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates([key])


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_col: str | None = None,
) -> DataFrame:
    """Tumbling-window throughput stats with late-data tolerance —
    the streaming analog of queries.q32_hourly_stats."""
    keys = [F.window(F.col(ts_col), window).alias("win")]
    if group_col:
        keys.append(F.col(group_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *([F.col(group_col)] if group_col else []),
            "n_events",
        )
    )


def session_windows(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    group_col: str = "user_id",
) -> DataFrame:
    """Event-time session windows (gap-based): the streaming twin of
    the batch sessionization in queries.q31 — ``session_window``
    merges events separated by < gap into one growing window; the
    watermark closes and emits sessions once no earlier event can
    arrive. State per open session is one window row."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(group_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(group_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def start_parquet_append(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    mode: str = "append",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Append the (deduped) stream to staging Parquet with
    checkpointed exactly-once semantics. ``trigger_once`` processes
    the backlog and stops — the batch-incremental pattern the
    reference approximates with full rewrites."""
    w = (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def start_incremental_neardup(
    stream: DataFrame,
    sig_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
):
    """Streaming near-dedup against the PERSISTENT signature table
    (R5 online, the 100 TB ingest shape): each micro-batch stages
    MinHash signatures for its new docs (anti-join against the table
    — re-deliveries cost zero hashing), generates candidates by
    joining the batch's bands against ALL staged bands, verifies
    per-pair Jaccard, and appends confirmed near-dup pairs to
    ``pairs_path``.

    foreachBatch is the right tool (not a stateful operator): the
    dedup state IS the signature table — columnar, shared with batch
    jobs, unbounded in keys but ~512 B/doc — rather than executor
    state bounded by a watermark horizon. Exactly-once comes from the
    checkpoint + idempotent signature staging."""
    from vnavc_spark.operators.dedup import (
        incremental_dedup_pairs,
        stage_minhash_signatures,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        n_new, new_ids = stage_minhash_signatures(
            batch_df, sig_path, id_col, text_col
        )
        if n_new == 0:
            return
        # verify needs candidate docs' text: the batch carries the new
        # side; previously-staged docs' text comes from the docs table
        # materialized alongside the signatures. Only NEW docs append —
        # re-deliveries would otherwise duplicate rows forever (the
        # companion table must mirror the signature table's one-row-
        # per-id invariant; compact_signature_table restores both).
        batch_df.select(id_col, text_col).join(
            new_ids, on=id_col, how="left_semi"
        ).write.mode("append").parquet(f"{sig_path}_docs")
        docs = spark.read.parquet(f"{sig_path}_docs")
        pairs = incremental_dedup_pairs(
            docs, sig_path, new_ids, id_col, text_col, threshold=threshold
        )
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(pairs_path)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join (attribution shape):
    pair every left event with right events for the same key that
    land in ``(left_ts, left_ts + within]`` — e.g. click → purchase
    attribution. Both sides carry a watermark, so the join state for
    a left row is dropped once event time passes
    ``left_ts + within + watermark`` — bounded state, the property
    that makes stream-stream joins viable at all. Returns
    (key, left_ts as lhs_ts, right_ts as rhs_ts, lag_seconds).
    """
    lhs = left.select(
        F.col(key).alias("k"), F.col(left_ts).alias("lhs_ts")
    ).withWatermark("lhs_ts", watermark)
    rhs = right.select(
        F.col(key).alias("k2"), F.col(right_ts).alias("rhs_ts")
    ).withWatermark("rhs_ts", watermark)
    cond = (
        (F.col("k") == F.col("k2"))
        & (F.col("rhs_ts") > F.col("lhs_ts"))
        & (
            F.col("rhs_ts")
            <= F.col("lhs_ts") + F.expr(f"INTERVAL {within}")
        )
    )
    return lhs.join(rhs, cond, "inner").select(
        F.col("k").alias(key),
        "lhs_ts",
        "rhs_ts",
        (
            F.unix_timestamp("rhs_ts") - F.unix_timestamp("lhs_ts")
        ).alias("lag_seconds"),
    )


def start_partials(
    stream: DataFrame, path: str, checkpoint: str, spec: Spec
) -> StreamingQuery:
    """Stream side of every twin: each micro-batch writes
    ``spec.partial`` of ITS OWN rows under ``path/batch_id=N`` (one
    subdirectory per name in ``spec.frames``). No streaming aggregation
    state is kept. A replayed batch id overwrites its own partial in
    place, so checkpoint recovery never double-counts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = spec.partial(batch_df)
        for name, df in (staged.items() if spec.frames else [("", staged)]):
            df.write.mode("overwrite").parquet(
                os.path.join(path, name, f"batch_id={batch_id}")
            )

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def snapshot(spark: SparkSession, path: str, spec: Spec) -> DataFrame:
    """Read side of every twin: ``finalize(merge(staged partials))`` —
    the batch query's exact output over every batch staged so far."""
    if spec.frames:
        staged = {
            n: spark.read.parquet(os.path.join(path, n)) for n in spec.frames
        }
    else:
        staged = spark.read.parquet(path)
    return spec.finalize(spec.merge(staged))


def streaming_heavy_hitters(
    spark,
    cells_path: str,
    corpus_df: DataFrame,
    token_col: str = "tok",
    k: int = 100,
    width: int = 16384,
    depth: int = 3,
) -> DataFrame:
    """EXACT heavy hitters over a streamed corpus, amortized: the
    expensive sketch pass already ran incrementally (``cms-cells``
    staged through :func:`start_partials`); this snapshot query
    screens the staged corpus with the CUMULATIVE cells and
    exact-counts only the candidates — the lambda-architecture shape
    where the on-demand batch query is cheap because the stream did
    the heavy counting. Same guarantee as ``cms_heavy_hitters``:
    estimates only over-count, so no true heavy hitter is screened
    out and the final integer filter is exact."""
    return aggregates.cms_screen_verify(
        corpus_df,
        snapshot(spark, cells_path, aggregates.cms_spec(token_col, width, depth)),
        token_col,
        k,
        width,
        depth,
    )


def start_twa_partials(
    stream: DataFrame,
    partials_path: str,
    state_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Stream side of the time-weighted-average twin (q182): each
    value HOLDS until the user's next event, and an interval closes
    only when that next event ARRIVES — so the carried state is ONE
    row per user (the last event seen). Per batch: union the state
    batch N−1 wrote with the batch's ``twa_events`` rows, stage
    ``twa_spec().partial`` (the closed intervals) under
    ``partials_path/batch_id=N``, and write each user's last event
    under ``state_path/batch_id=N``.

    Replay idempotence: batch N reads the state batch N−1 WROTE
    (never mutable shared state), so a replayed batch recomputes its
    own partial and state from the same inputs. A missing batch N−1
    state raises (the read fails before anything is written), since
    the carried open intervals would otherwise be dropped. Input
    contract: batches partition the event stream in per-user time
    order (an interval's two endpoints may land in different
    batches, but never out of order)."""
    spec = aggregates.twa_spec()

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        e = aggregates.twa_events(batch_df)
        if batch_id > 0:
            e = e.unionByName(
                batch_df.sparkSession.read.parquet(
                    f"{state_path}/batch_id={batch_id - 1}"
                )
            )
        spec.partial(e).write.mode("overwrite").parquet(
            f"{partials_path}/batch_id={batch_id}"
        )
        aggregates.twa_intervals(e).filter(F.col("nxt").isNull()).select(
            "user_id", "event_id", "event_type", "ts", "vc"
        ).write.mode("overwrite").parquet(f"{state_path}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# perfbench/workloads.py calls these twins by name, with positional
# arguments.
start_digit_partials = partial(start_partials, spec=aggregates.benford_spec())
start_hll_register_partials = partial(start_partials, spec=aggregates.hll_spec())
start_kmv_value_partials = partial(start_partials, spec=aggregates.kmv_spec())
benford_snapshot = partial(snapshot, spec=aggregates.benford_spec())
hll_snapshot = partial(snapshot, spec=aggregates.hll_spec())
kmv_snapshot = partial(snapshot, spec=aggregates.kmv_spec())
twa_snapshot = partial(snapshot, spec=aggregates.twa_spec())


#: Single authority for the streaming-twin surface: twin name ->
#: (spec factory, its tuning flags, parity-pinned batch queries,
#: staged-partial schema, guards, and ``start`` when the twin needs
#: its own starter). The `monitor` CLI derives its command table from
#: this dict and tools/gen_monitors.py renders docs/MONITORS.md from
#: it, so the CLI, the doc, and the code cannot drift apart (test_cli
#: pins the derivation; test_streaming pins each twin's streaming ==
#: batch parity). Each flag is a keyword of the spec factory.
TWINS: dict[str, dict] = {
    "windowed-topk": {
        "spec": ordering.window_topk_spec,
        "flags": ("k",),
        "batch": ("q156_window_topk",),
        "partials": "(wstart, event_type, n) per batch_id=N",
    },
    "cms-cells": {
        "spec": aggregates.cms_spec,
        "flags": (),
        "batch": ("q116_heavy_hitters",),
        "partials": "(seed, bucket, est) CMS cells per batch_id=N "
        "(<= depth*width rows/batch)",
    },
    "ks-drift": {
        "spec": ordering.ks_drift_spec,
        "flags": (),
        "batch": ("q170_ks_drift",),
        "partials": "(source, n_chars, cnt) histogram per batch_id=N",
    },
    "quantile-drift": {
        "spec": ordering.quantile_drift_spec,
        "flags": (),
        "batch": ("q192_quantile_drift",),
        "partials": "(source, n_chars, cnt) histogram per batch_id=N "
        "(same staging as ks-drift)",
    },
    "score-separation": {
        "spec": ordering.score_separation_spec,
        "flags": ("group", "value"),
        "batch": (
            "q186_score_separation",
            "q203_weekend_value_auc",
            "q204_daily_night_auc",
        ),
        "partials": "(group, value, cnt, cnt_pos) class-conditional "
        "histogram per batch_id=N",
    },
    "average-precision": {
        "spec": ordering.average_precision_spec,
        "flags": ("group", "value"),
        "batch": ("q217_average_precision",),
        "partials": "(group, value, cnt, cnt_pos) class-conditional "
        "histogram per batch_id=N (same staging as score-separation)",
    },
    "session-survival": {
        "spec": aggregates.session_survival_spec,
        "flags": (),
        "batch": ("q223_session_survival",),
        "partials": "(user_id, f, l) per-batch PARTIAL session spans "
        "per batch_id=N (merged with the gap rule — the "
        "session-window merge identity)",
    },
    "benford": {
        "spec": aggregates.benford_spec,
        "flags": (),
        "batch": ("q188_benford_gate",),
        "partials": "(pri, d, obs) leading-digit counts per "
        "batch_id=N (<= 9 digit rows per group)",
    },
    "benford-summation": {
        "spec": aggregates.benford_summation_spec,
        "flags": (),
        "batch": ("q205_benford_summation",),
        "partials": "(seg, d, m) per-digit long cent mass per batch_id=N",
    },
    "hll": {
        "spec": aggregates.hll_spec,
        "flags": ("b",),
        "batch": ("q47_approx_sketches",),
        "partials": "regs/batch_id=N register maxima + "
        "vals/batch_id=N distinct (g, v) for the exact check",
        "guards": (
            "`--b` smaller than the stage-time b is detected (a "
            "staged register index lands outside [0, 2^b)) and "
            "REFUSED — it would silently mis-scale the harmonic "
            "estimate. The reverse (larger b) is undetectable from "
            "indices alone: keep b with the partials path.",
        ),
    },
    "kmv": {
        "spec": aggregates.kmv_spec,
        "flags": ("k",),
        "batch": ("q86_kmv_sketch",),
        "partials": "(g, v) distinct-value partials per batch_id=N",
    },
    "hhi": {
        "spec": aggregates.hhi_spec,
        "flags": (),
        "batch": ("q194_hhi_concentration",),
        "partials": "(lang, source, mc) character-mass partials per "
        "batch_id=N",
    },
    "contamination": {
        "spec": dedup.contamination_spec,
        "flags": (),
        "batch": ("q179_contamination_13gram",),
        "partials": "(doc_id, source, n_shingles, n_hits) one row "
        "per doc per batch_id=N",
    },
    "twa": {
        "spec": aggregates.twa_spec,
        "start": "start_twa_partials",
        "flags": (),
        "batch": ("q182_time_weighted_avg",),
        "partials": "(event_type, n_intervals, num, den) closed-"
        "interval partials per batch_id=N + open-interval carry "
        "state under state_path",
        "guards": (
            "a batch N > 0 whose batch N-1 carry state is missing "
            "RAISES instead of proceeding — the open intervals "
            "carried across the batch boundary would otherwise be "
            "silently dropped and the time-weighted average "
            "under-counts. Recovery: replay batch N-1 (its carry "
            "state regenerates in place), then re-run batch N.",
        ),
    },
    "name-linkage": {
        "spec": dedup.name_linkage_spec,
        "flags": ("radius",),
        "batch": ("q202_name_linkage", "q207_radius2_linkage"),
        "partials": "(nm, n_recs) additive name counts per "
        "batch_id=N",
        "guards": (
            "`--radius` outside {1, 2} is REFUSED by the shared "
            "blocking core (dedup.name_linkage_pairs) — a deeper "
            "radius would emit candidates the deletion blocking "
            "cannot certify lossless. (The staged (nm, n_recs) "
            "partials themselves are radius-agnostic — both depths "
            "serve from the same staging; contrast the PERSISTENT "
            "variant table of the incremental-ER path, where "
            "stage/probe radius mismatch and mixed-radius tables "
            "are refused by dedup._check_staged_radius.)",
        ),
    },
    "agreement-patterns": {
        "spec": dedup.agreement_patterns_spec,
        "flags": (),
        "batch": ("q210_agreement_patterns",),
        "partials": "(nm, n_recs, nation, segment, bal_band) "
        "mergeable entity partials per batch_id=N (same staging as "
        "fellegi-sunter)",
    },
    "fellegi-sunter": {
        "spec": dedup.fellegi_sunter_spec,
        "flags": (),
        "batch": ("q208_fellegi_sunter",),
        "partials": "(nm, n_recs, nation, segment, bal_band) "
        "mergeable entity partials per batch_id=N (sum counts, "
        "min attributes)",
    },
    "entity-clusters": {
        "spec": dedup.entity_clusters_spec,
        "flags": (),
        "batch": ("q209_entity_clusters",),
        "partials": "(nm, n_recs, nation, segment, bal_band) "
        "mergeable entity partials per batch_id=N (same staging as "
        "fellegi-sunter — one contract serves score, histogram, AND "
        "cluster readouts)",
    },
    "k-anonymity": {
        "spec": aggregates.k_anonymity_spec,
        "flags": (),
        "batch": ("q196_k_anonymity",),
        "partials": "(nk, seg, band, sz) QI-class counts per "
        "batch_id=N",
    },
}
