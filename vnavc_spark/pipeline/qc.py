"""ASR-based quality control stage (SURVEY.md §3.3 QC: G6/G11/A8/A9/
F9): sample utterances per book → transcribe → word error rate →
drop books over threshold.

The ASR model itself (Whisper, reference ``whisper_qc.py:171-307``)
is a GPU pandas-UDF seam — ``transcribe=`` is injectable and defaults
to a stub that must be replaced (or hypothesis rows supplied
directly). Everything around it is real Spark: deterministic exact-k
sampling, Arrow-batched WER, weighted aggregation, anti-join gate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vnavc_spark.cache import tracked_persist
from vnavc_spark.operators.aggregates import weighted_wer
from vnavc_spark.operators.filters import wer_gate
from vnavc_spark.operators.sampling import exact_k_per_group
from vnavc_spark.pipeline.vietnamese import process_transcript


def word_edit_distance(ref: str, hyp: str) -> int:
    """A9 core: word-level Levenshtein distance (two-row DP). This is
    the numerator of jiwer-style WER (reference
    ``whisper_qc.py:308-324``)."""
    r, h = ref.split(), hyp.split()
    if not r:
        return len(h)
    prev = list(range(len(h) + 1))
    for i, rw in enumerate(r, 1):
        cur = [i] + [0] * len(h)
        for j, hw in enumerate(h, 1):
            cur[j] = min(
                prev[j] + 1,  # deletion
                cur[j - 1] + 1,  # insertion
                prev[j - 1] + (rw != hw),  # substitution
            )
        prev = cur
    return prev[-1]


def wer_counts_udf():
    """Numerator AND denominator from ONE normalization pass:
    (word_errors, ref_words) where ref_words counts tokens of the
    NORMALIZED reference — the same token stream the edit distance
    runs over. Counting raw-text tokens instead (the old behavior)
    skews WER whenever normalization changes token counts (digit
    expansion '123' → 'một hai ba' turns 1 token into 3), letting
    book WER exceed 100% and diverge from jiwer's corpus WER on
    reference-normalized text (reference normalizes via process_text
    before jiwer — ``whisper_qc.py:308-329``)."""

    @pandas_udf("struct<word_errors:int, ref_words:int>")
    def _udf(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for refs, hyps in it:
            errs, nwords = [], []
            for r, h in zip(refs, hyps):
                rn = process_transcript(r or "").lower()
                hn = process_transcript(h or "").lower()
                errs.append(word_edit_distance(rn, hn))
                nwords.append(len(rn.split()))
            yield pd.DataFrame(
                {
                    "word_errors": pd.Series(errs, dtype="int32"),
                    "ref_words": pd.Series(nwords, dtype="int32"),
                }
            )

    return _udf


def sample_for_qc(
    utterances: DataFrame,
    pct: float = 0.05,
    book_col: str = "book_id",
    key_col: str = "seg_id",
    salt: str = "qc",
) -> DataFrame:
    """G11: per-book exact-k sample, k = max(1, ceil(pct·n)) —
    deterministic hash-order replacement for the reference's
    ``random.sample`` (``whisper_qc.py:230-242``, 5% floor-1)."""
    return exact_k_per_group(
        utterances, group=book_col, key=[book_col, key_col], pct=pct, salt=salt
    )


def score_transcripts(
    sampled: DataFrame,
    hypotheses: DataFrame,
    on: list[str] | None = None,
    ref_col: str = "text",
    hyp_col: str = "hypothesis",
) -> DataFrame:
    """Join sampled utterances with ASR hypotheses and compute
    per-utterance word errors + NORMALIZED-reference word counts
    (one normalization pass produces both — see ``wer_counts_udf``).

    The result is persisted (MEMORY_AND_DISK) in the ``qc_scores``
    slot, so the scoring UDF runs once per sampled utterance however
    many actions read the scores (``book_wer`` and ``kept_books`` of
    :func:`qc_gate`); the NEXT ``score_transcripts`` call unpersists
    it. A caller that is finished with the stage sooner can
    ``unpersist()`` it."""
    on = on or ["book_id", "seg_id"]
    joined = sampled.join(hypotheses, on=on)
    return tracked_persist(
        joined.withColumn(
            "_wer", wer_counts_udf()(F.col(ref_col), F.col(hyp_col))
        )
        .withColumn("word_errors", F.col("_wer.word_errors"))
        .withColumn("ref_words", F.col("_wer.ref_words"))
        .drop("_wer"),
        "qc_scores",
    )


def qc_gate(
    scored: DataFrame,
    books: DataFrame,
    threshold_pct: float = 50.0,
    book_col: str = "book_id",
) -> tuple[DataFrame, DataFrame]:
    """G6 + F9: weighted corpus WER per book (sum errors / sum ref
    words — matches jiwer's corpus formulation, NOT mean-of-rows),
    then anti-join books whose WER ≥ threshold
    (reference ``whisper_qc.py:322-341``, 50%).

    Returns (book_wer, kept_books)."""
    book_wer = weighted_wer(scored, group=book_col)
    kept = wer_gate(book_wer, books, on=book_col, threshold=threshold_pct)
    return book_wer, kept
