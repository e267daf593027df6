"""Session-scoped tracked persists for small derived aggregates.

Several operators build a SMALL intermediate (a count-min sketch's
bucket cells, a vocabulary count table, per-doc shingle sets) that
feeds multiple consumers in the same plan. Without a persist, every
consumer replays the full lineage — a 2-scan job becomes a 10-scan
job (measured on q116/q118/q119 plans; at 100 TB that is the whole
cost). Persisting fixes the scan count, but a bare ``.persist()``
leaks: repeated calls in one session (bench loops, test modules)
accumulate cached partitions until executor storage eviction kicks
in (ADVICE r03 on the text stage).

``tracked_persist(df, slot)`` keeps AT MOST ONE live cache per slot:
the next call for the same slot unpersists the previous DataFrame
first. Callers that finish early can unpersist manually; everyone
else is bounded by construction.

The pipeline stages persist their outputs the same way, one slot per
stage, so every action after the first reads the cached rows instead
of replaying the stage's Python island and its file writes:

- ``text_sentences``: ``pipeline.text_pipeline.process_text_stage``;
- ``audio_concat``: ``pipeline.audio.concat_book_parts``;
- ``alignment_segments``: ``pipeline.alignment.align_books``;
- ``audio_cut``: ``pipeline.audio.cut_segments``;
- ``qc_scores``: ``pipeline.qc.score_transcripts``.

Single-flight-per-slot is a SEQUENTIAL contract: materialize (or
abandon) a slot's DataFrame before the next call on the same slot —
a second concurrent caller evicts the first mid-query, which is
always CORRECT (unpersist only drops the cache; lineage recomputes)
but silently reinstates the re-scan cost the cache exists to
prevent. The swap itself is lock-protected so concurrent callers
can't double-unpersist or leak an entry.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

# what a reuse probe against a stale/stopped session legitimately
# raises: JVM-bridge errors (py4j), captured Spark-side exceptions,
# and the socket-level failures of a dead gateway
_REUSE_PROBE_EXPECTED = (Py4JError, PySparkException, ConnectionError)

_SLOTS: dict[str, list] = {}
_LOCK = threading.Lock()

#: Default ceiling for :func:`trim_slots` — long sessions that run
#: many queries (the bench runs 122) otherwise accumulate one warm
#: cache per slot NAME: ~100 live slots by the bench tail, real
#: storage-memory pressure exactly where the heaviest queries run
#: (q209's in-bench median ran 1.5x its fresh-session wall; round-13
#: find).
SLOT_CAP = 32


def trim_slots(keep_n: int | None = None) -> int:
    """Unpersist all but the ``keep_n`` most-recently-TOUCHED
    tracked slots and return how many were evicted — session hygiene
    for long multi-query sessions (the bench calls this between
    queries). ``keep_n`` defaults to :data:`SLOT_CAP`; 0 disables.
    ``tracked_persist`` re-inserts every slot it touches, so the
    registry's order is recency order. Eviction is always correct
    (unpersist only drops the cache; lineage recomputes); keeping
    the newest slots preserves the adjacent-query plan reuse
    (q124→q131)."""
    if keep_n is None:
        keep_n = SLOT_CAP
    if keep_n <= 0:
        return 0
    with _LOCK:
        excess = len(_SLOTS) - keep_n
        evicted = []
        while len(_SLOTS) > keep_n:
            oldest = next(iter(_SLOTS))
            evicted.extend(_SLOTS.pop(oldest))
    for old in evicted:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    return max(excess, 0)

# count of reuse probes that fell through on an EXPECTED stale-session
# / JVM-bridge error (observability: a probe that never succeeds and
# always lands here means plan reuse is silently dead — round-5
# advice; unexpected exception types now propagate instead of hiding)
REUSE_PROBE_FAILURES = 0


def clear_tracked() -> None:
    """Unpersist every tracked slot and empty the registry — session
    hygiene for consumers that need per-query isolation (the plan
    audit: a warm cache REWRITES later queries' explain output, with
    InMemoryTableScan either hiding a window subtree or reprinting
    it once per consumer, so plan facts measured in a shared session
    depend on execution history)."""
    with _LOCK:
        evicted = [df for slot in _SLOTS.values() for df in slot]
        _SLOTS.clear()
    for old in evicted:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def tracked_persist(
    df: DataFrame, slot: str, reuse_same_plan: bool = False
) -> DataFrame:
    """``reuse_same_plan`` is OPT-IN and only safe when the slot's
    inputs are immutable for the session: plan equality is judged on
    the ANALYZED plan (paths, not file contents), so a slot over a
    path that gets REWRITTEN between calls (e.g. the incremental
    dedup signature table after compaction) would serve stale cached
    data. Leave it off for anything that stages/rewrites."""
    from pyspark import StorageLevel

    with _LOCK:
        # re-insert on every touch — the reuse hit included — so
        # trim_slots evicts the least-recently-USED slot: one kept
        # warm purely through reuse (q124→q131) outlives colder,
        # newer slots
        prev = _SLOTS[slot] = _SLOTS.pop(slot, [])
        if reuse_same_plan and prev:
            # plan-aware reuse: queries built from a SHARED helper
            # (e.g. q124/q131's capped-basket items) produce the same
            # analyzed plan — evicting and re-persisting would throw
            # away a warm cache only to rebuild the identical one
            # (measured: +1.6 s on q131 when it follows q124).
            # sameResult is Catalyst's own plan-equivalence check.
            old = prev[0]
            try:
                # sameResult is a pure canonicalized-plan comparison
                # — it succeeds even for a DataFrame from a STOPPED
                # session (identical paths analyze identically), so
                # reuse additionally requires the SAME live session
                # object or the caller gets a dead-context DataFrame
                if old.sparkSession is df.sparkSession and (
                    old._jdf.queryExecution()
                    .analyzed()
                    .sameResult(df._jdf.queryExecution().analyzed())
                ):
                    return old
            except _REUSE_PROBE_EXPECTED:
                # stale/stopped session or JVM bridge failure — fall
                # through to the normal swap. Counted, not swallowed
                # blind: a bare `except Exception` here made a genuine
                # py4j error indistinguishable from the intended
                # stale-session case, so reuse could silently never
                # trigger (round-5 advice). Anything else propagates.
                global REUSE_PROBE_FAILURES
                REUSE_PROBE_FAILURES += 1
        evicted = list(prev)
        prev.clear()
        prev.append(df)
    for old in evicted:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def severed_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` for ITERATIVE loops: checkpoint, then
    rebuild the DataFrame around the materialized RDD so the captured
    origin metadata is dropped.

    Why this exists (round-11 find): ``Dataset.localCheckpoint``
    captures the origin plan's statistics (and constraints) into the
    resulting ``LogicalRDD``. Basic (non-CBO) join stats MULTIPLY the
    children's ``sizeInBytes``, so in a loop of the form
    ``labels = step(labels).localCheckpoint()`` each round's captured
    sizeInBytes is a PRODUCT over the previous round's already-huge
    BigInt — doubly-exponential digit growth. By round ~10 the
    driver does arithmetic on million-digit BigIntegers inside every
    stats-consuming optimizer rule (join selection, runtime-filter
    injection): measured on a 3,000-edge connected-components chain,
    round 12 alone took 104 s with plain localCheckpoint and the full
    14-round loop took 7.7 s with this helper (flat ~0.4 s/round) —
    output rows identical. Executors are idle the whole time; it is
    pure driver/planner burn, so it would stall a 1000-executor
    cluster exactly the same way.

    ``internalCreateDataFrame`` builds a plain ``LogicalRDD`` with no
    origin stats/constraints (planner falls back to the default size
    estimate, which is what a shuffle-boundary scan gets anyway). The
    rebuild is zero-cost: ``toRdd`` of a checkpointed frame is a
    1:1 scan over the materialized blocks. Falls back to the plain
    checkpoint if the internal constructor moves (correct, slower on
    deep loops)."""
    ck = df.localCheckpoint()
    spark = ck.sparkSession
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jdf2 = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(jdf2, spark)
    except Exception as exc:
        global SEVER_FALLBACKS
        SEVER_FALLBACKS += 1
        if SEVER_FALLBACKS == 1:
            # one-time loud warning: the fallback is CORRECT but
            # re-exposes the doubly-exponential captured-stats growth
            # on deep loops — on a production cluster this shows up
            # as an idle-executor driver stall, so it must be visible
            # in logs, not only to code that polls the counter
            import warnings

            warnings.warn(
                "severed_local_checkpoint: internal DataFrame rebuild "
                f"unavailable on this Spark version ({exc!r}); falling "
                "back to plain localCheckpoint. Deep iterative loops "
                "(connected components, k-core) may regress to a "
                "driver-side planner stall — see vnavc_spark/cache.py.",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


#: count of severed_local_checkpoint fallbacks to the plain
#: checkpoint (internal constructor unavailable) — visible so a scale
#: regression on a new Spark version is diagnosable, not silent
SEVER_FALLBACKS = 0
