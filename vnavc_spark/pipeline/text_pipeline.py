"""Text pre-processing stage (SURVEY.md §3.2 text phase): raw book
text → normalized sentence table → grouped utterance-ready text +
per-book metrics.

Spark shape: one lazy DAG per stage —

    books(raw_text) → sentence explode (T4, UDTF-style posexplode)
      → semiotic normalize (T3 pandas-UDF island)
      → punctuation strip (T5, native translate)
      → min-words filter (F6, native)
      → order-preserving grouping (T6, applyInPandas per book)
      → per-book metrics (G10, one groupBy)

The reference runs this as an asyncio loop over PDFs with per-book
Python lists (``process_all.py:285-335,665-703``); here each book is
a group key and ordering is explicit via ``line_no`` — deterministic
under any partitioning, skew handled by AQE.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vnavc_spark.cache import tracked_persist
from vnavc_spark.functions.quality import token_count
from vnavc_spark.functions.text import strip_punctuation
from vnavc_spark.pipeline.vietnamese import normalize_vi, normalize_vi_udf

try:  # optional Vietnamese NLP lib — fallback below mirrors its contract
    import underthesea  # type: ignore

    _HAS_UNDERTHESEA = True
except Exception:  # pragma: no cover
    underthesea = None
    _HAS_UNDERTHESEA = False

#: sentence-boundary fallback when underthesea is unavailable:
#: split on terminal punctuation runs followed by whitespace.
_RE_SENT_SPLIT = re.compile(r"(?<=[.!?…])\s+")


def tokenize_sentences(text: str | None) -> list[str]:
    """T4: sentence tokenization (``underthesea.sent_tokenize`` when
    available — reference ``process_all.py:285-291`` — else a
    punctuation-boundary fallback with the same list-of-sentences
    contract)."""
    if not text:
        return []
    if _HAS_UNDERTHESEA:
        try:
            return list(underthesea.sent_tokenize(text))
        except Exception:
            pass
    return [s for s in _RE_SENT_SPLIT.split(text.strip()) if s]


def sent_tokenize_udf():
    """Built lazily — pandas UDF type parsing needs an active session."""

    @pandas_udf("array<string>")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(tokenize_sentences)

    return _udf


def explode_sentences(
    df: DataFrame, book_col: str = "book_id", text_col: str = "raw_text"
) -> DataFrame:
    """books → (book_id, line_no, raw) sentence rows. ``posexplode``
    gives the 0-based line number — the single consistent ordering
    key downstream (fixes the reference's three id spaces,
    SURVEY §2.11)."""
    return df.select(
        F.col(book_col),
        F.posexplode(sent_tokenize_udf()(F.col(text_col))).alias("line_no", "raw"),
    )


def normalize_sentences(
    df: DataFrame,
    raw_col: str = "raw",
    out_col: str = "norm",
    remove_punctuation: bool = True,
    min_words: int = 3,
    with_rejected: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """T3 + T5 + F6 over sentence rows: semiotic normalize (pandas
    UDF), strip punctuation (native translate), drop sentences with
    fewer than ``min_words`` whitespace words
    (reference ``process_all.py:293-303``).

    ``with_rejected=True`` also returns the dropped rows with a
    ``reject_reason`` column — an explicit rejected-rows table
    instead of the reference's silent loss (SURVEY §2.11: failures
    never reach the metadata)."""

    out = df.withColumn(out_col, normalize_vi_udf()(F.col(raw_col)))
    if remove_punctuation:
        out = out.withColumn(out_col, strip_punctuation(F.col(out_col)))
    out = out.withColumn("n_words", token_count(out_col))
    kept = out.filter(F.col("n_words") >= min_words)
    if not with_rejected:
        return kept
    rejected = out.filter(F.col("n_words") < min_words).withColumn(
        "reject_reason",
        F.when(F.col("n_words") == 0, "empty_after_normalize").otherwise(
            F.lit(f"fewer_than_{min_words}_words")
        ),
    )
    return kept, rejected


def sentences_from_books(
    books: DataFrame,
    book_col: str = "book_id",
    text_col: str = "raw_text",
    remove_punctuation: bool = True,
    min_words: int = 3,
) -> DataFrame:
    """Fused T4+T3+T5+F6: tokenize, normalize, strip punctuation and
    filter in ONE Arrow pass (the unfused ``explode_sentences`` →
    ``normalize_sentences`` chain crosses Python twice and
    re-serializes the sentence rows in between). Semantics are
    identical — cross-checked in tests."""
    from vnavc_spark.functions.text import PUNCTUATION

    drop_punct = str.maketrans("", "", PUNCTUATION)

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            books_out, lines, raws, norms, counts = [], [], [], [], []
            for book, raw_text in zip(pdf[book_col], pdf[text_col]):
                for i, raw in enumerate(tokenize_sentences(raw_text)):
                    norm = normalize_vi(raw)
                    if remove_punctuation:
                        norm = norm.translate(drop_punct)
                    n = len(norm.split())
                    if n < min_words:
                        continue
                    books_out.append(book)
                    lines.append(i)
                    raws.append(raw)
                    norms.append(norm)
                    counts.append(n)
            yield pd.DataFrame(
                {
                    book_col: pd.Series(books_out, dtype="object"),
                    "line_no": pd.Series(lines, dtype="int32"),
                    "raw": pd.Series(raws, dtype="object"),
                    "norm": pd.Series(norms, dtype="object"),
                    "n_words": pd.Series(counts, dtype="int32"),
                }
            )

    return books.select(book_col, text_col).mapInPandas(
        _fused,
        schema=f"{book_col} string, line_no int, raw string, norm string, n_words int",
    )


def group_sentences(sentences: list[str], threshold: int = 20) -> list[str]:
    """T6 core: order-dependent fold — accumulate consecutive
    sentences until the running word count would reach ``threshold``,
    then flush; trailing group kept iff ≥ threshold//2 words
    (reference ``process_all.py:305-335``)."""
    grouped: list[str] = []
    acc: list[str] = []
    acc_words = 0
    for s in sentences:
        wc = len(s.split())
        if acc_words + wc >= threshold:
            if acc:
                acc.append(s)
                grouped.append(" ".join(acc))
                acc, acc_words = [], 0
            else:
                grouped.append(s)
        else:
            acc.append(s)
            acc_words += wc
    if acc and acc_words >= threshold // 2:
        grouped.append(" ".join(acc))
    return grouped


def group_sentences_df(
    df: DataFrame,
    book_col: str = "book_id",
    line_col: str = "line_no",
    text_col: str = "norm",
    threshold: int = 20,
    per_group_udf: bool = False,
) -> DataFrame:
    """T6 on Spark: the fold is inherently sequential *within a book*
    but embarrassingly parallel *across books*.

    Default path: repartition on book, sort within partitions by
    (book, line_no), then ONE ``mapInPandas`` pass that folds
    consecutive books — carrying the unfinished book across Arrow
    batch boundaries. One pandas frame per *batch* instead of per
    *group*: with millions of small books, per-group pandas
    construction dominates (measured 14.4 s → ~2 s at sf0.1 for 5000
    single-sentence books). ``per_group_udf=True`` keeps the
    straightforward ``applyInPandas`` formulation (same results —
    cross-checked in tests).

    Scale: carry state is ONE book's sentences; the single shuffle is
    the repartition on book_id."""
    schema = f"{book_col} string, group_id int, text string, n_words int"

    def _emit(book: str, texts: list[str]) -> pd.DataFrame:
        groups = group_sentences(texts, threshold)
        return pd.DataFrame(
            {
                book_col: book,
                "group_id": range(len(groups)),
                "text": groups,
                "n_words": [len(g.split()) for g in groups],
            }
        )

    if per_group_udf:

        def _grp(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(line_col)
            return _emit(pdf[book_col].iloc[0], list(pdf[text_col]))

        return df.groupBy(book_col).applyInPandas(_grp, schema=schema)

    src = df.select(book_col, line_col, text_col).repartition(
        F.col(book_col)
    ).sortWithinPartitions(book_col, line_col)

    def _fold(batches) -> "pd.DataFrame":
        pending_book, pending_texts = None, []
        for pdf in batches:
            outs = []
            for book, sub in pdf.groupby(book_col, sort=False):
                texts = list(sub[text_col])
                if book == pending_book:
                    pending_texts.extend(texts)
                    continue
                if pending_book is not None:
                    outs.append(_emit(pending_book, pending_texts))
                pending_book, pending_texts = book, texts
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if pending_book is not None:
            yield _emit(pending_book, pending_texts)

    return src.mapInPandas(_fold, schema=schema)


def text_metrics(
    sentences: DataFrame,
    groups: DataFrame,
    book_col: str = "book_id",
) -> DataFrame:
    """G10: per-book text metrics (word_count over kept sentences,
    sentence/group counts, text_size in bytes of grouped output) —
    the reference computes these per PDF at ``process_all.py:358-363``."""
    s = sentences.groupBy(book_col).agg(
        F.sum("n_words").cast("long").alias("word_count"),
        F.count("*").alias("num_sentences"),
    )
    g = groups.groupBy(book_col).agg(
        F.count("*").alias("num_groups"),
        # +1 per group: the reference writes one newline per line (K3)
        F.sum(F.length("text") + F.lit(1)).cast("long").alias("text_size"),
    )
    return s.join(g, on=book_col, how="full_outer")


def process_text_stage(
    books: DataFrame,
    book_col: str = "book_id",
    text_col: str = "raw_text",
    threshold: int = 20,
    min_words: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full text phase: returns (sentences, groups, metrics).

    Input is spread across the default parallelism first — a corpus
    arriving as one small file would otherwise run the tokenizer/
    normalizer pandas UDFs on a single core.

    The returned ``sentences`` frame is persisted (MEMORY_AND_DISK);
    the NEXT ``process_text_stage`` call unpersists it automatically,
    so at most one stage's cache is alive per session. A caller that
    is finished with the stage sooner can ``sents.unpersist()``
    itself; callers needing several stages cached concurrently should
    persist manually."""
    n_parts = books.sparkSession.sparkContext.defaultParallelism
    # file-count probe instead of df.rdd (which converts the plan to
    # an RDD just to read a number) — see minhash_signatures_df
    try:
        n_input = len(books.inputFiles())
    except Exception:
        n_input = 0
    if n_input < n_parts:
        books = books.repartition(n_parts)
    # persist the sentence table: it feeds TWO consumers (the metrics
    # aggregate and the grouping stage) and sits above the Python
    # island, which would otherwise re-run the tokenizer/normalizer
    # once per branch (no exchange between them for ReuseExchange to
    # dedup — measured ~2× the island cost at sf0.1). The
    # ``text_sentences`` slot keeps at most ONE text-stage sentence
    # cache alive per session; MEMORY_AND_DISK persists spill at scale.
    sents = tracked_persist(
        sentences_from_books(books, book_col, text_col, min_words=min_words),
        "text_sentences",
    )
    groups = group_sentences_df(sents, book_col, threshold=threshold)
    metrics = text_metrics(sents, groups, book_col)
    return sents, groups, metrics
