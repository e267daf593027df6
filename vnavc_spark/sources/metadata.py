"""Metadata ingestion (SURVEY.md S6-S8, R2, T1/T2; §7 step 2).

The reference's metadata CSV stores nested values as Python-repr
strings re-parsed with ``ast.literal_eval`` (``tts_data_pipeline/
__init__.py:291-292``, ``crawler/download.py:225``) — narrator cells
like ``"[{'id': 'ab12', 'name': 'X'}]"``, URL lists like
``"['http://…1.mp3', 'http://…2.mp3']"``. Ingestion repairs these
into real Spark nested types ONCE (Arrow-batched ``ast.literal_eval``
island — unavoidable Python because the format *is* Python), after
which everything downstream is native columns.

Also provides the reference's one ad-hoc query —
``query_download_url`` (``crawler/utils.py:43-82``) — as a composable
DataFrame transform (F3 + F2 + F4).
"""

from __future__ import annotations

import ast
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vnavc_spark.functions.text import convert_duration, normalize_name
from vnavc_spark.operators.filters import substring_query
from vnavc_spark.operators.sampling import exact_k_global

# ---------------------------------------------------------------------------
# repr-string repair (R2)
# ---------------------------------------------------------------------------

_NARRATOR_SCHEMA = (
    "array<struct<id:string,name:string,url:string,age:int,gender:string,"
    "dialect:string,speed:string,stress:string,volume:string,pitch:string,"
    "tone:string>>"
)


def _parse_py_literal(cell: str | None):
    if cell is None or cell == "":
        return None
    try:
        return ast.literal_eval(cell)
    except (ValueError, SyntaxError):
        return None


_NARRATOR_FIELDS = (
    "id", "name", "url", "age", "gender", "dialect", "speed", "stress",
    "volume", "pitch", "tone",
)


def parse_narrator_value(cell):
    """R2 core: narrator payload → list of normalized dicts. Accepts
    list-of-dict, single dict, or bare string (→ one narrator with
    empty url) — the three shapes the reference tolerates
    (``crawler/metadata.py:261-265``, ``__init__.py:263-296``)."""

    def norm_one(n):
        if isinstance(n, str):
            n = {"name": n, "url": ""}
        if not isinstance(n, dict):
            return None
        out = {k: n.get(k) for k in _NARRATOR_FIELDS}
        age = out.get("age")
        try:
            out["age"] = int(age) if age not in (None, "") else None
        except (TypeError, ValueError):
            out["age"] = None
        for k in _NARRATOR_FIELDS:
            if k != "age" and out[k] is not None:
                out[k] = str(out[k])
        return out

    v = _parse_py_literal(cell) if isinstance(cell, str) else cell
    if v is None:
        return None
    if isinstance(v, (dict, str)):
        v = [v]
    if not isinstance(v, list):
        return None
    out = [norm_one(n) for n in v]
    return [o for o in out if o is not None]


def parse_string_list_value(cell):
    """repr'd list-of-URL cell → list[str]; bare URL string → one-
    element list (audio_download_url shapes, ``__init__.py:212,247``)."""
    if cell is None or cell == "":
        return None
    v = _parse_py_literal(cell)
    if isinstance(v, list):
        return [str(x) for x in v]
    if v is None:
        return [cell] if cell.startswith(("http://", "https://")) else None
    return [str(v)]


def parse_narrator_cell():
    """Arrow-batched R2 narrator repair (lazy: UDF type parsing needs
    an active session)."""

    @pandas_udf(_NARRATOR_SCHEMA)
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(parse_narrator_value)

    return _udf


def parse_string_list_cell():
    @pandas_udf("array<string>")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(parse_string_list_value)

    return _udf


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------

#: metadata_book.csv header (reference data/metadata/metadata_book.csv:1)
BOOK_CSV_COLUMNS = [
    "id", "name", "text_path", "audio_path", "narrator", "duration",
    "author", "text_url", "audio_url", "alignment_path",
    "text_download_url", "audio_download_url", "sample_rate", "quality",
    "word_count", "num_sentences", "audio_size", "text_size",
]


def read_books_csv(spark: SparkSession, path: str) -> DataFrame:
    """S8: ingest the reference-format metadata CSV → typed books
    table: nested narrator array, real URL lists, duration parsed to
    hours (T2), normalized name slug (T1). One pass; the repr-parse
    UDFs are the only Python."""
    raw = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )
    return (
        raw.withColumn("narrator", parse_narrator_cell()(F.col("narrator")))
        .withColumn(
            "audio_download_url", parse_string_list_cell()(F.col("audio_download_url"))
        )
        .withColumn("duration_raw", F.col("duration"))
        .withColumn("duration_hours", convert_duration(F.col("duration"), "hours"))
        .withColumn("name_slug", normalize_name(F.col("name")))
        .withColumn("sample_rate", F.col("sample_rate").cast("int"))
        .withColumn("word_count", F.col("word_count").cast("int"))
        .withColumn("num_sentences", F.col("num_sentences").cast("int"))
        .withColumn("audio_size", F.col("audio_size").cast("long"))
        .withColumn("text_size", F.col("text_size").cast("long"))
        .drop("duration")
    )


def read_narrator_roster(spark: SparkSession, path: str) -> DataFrame:
    """S6: narrator roster CSV (the reference fetches it from a Google
    Sheet export and pandas-parses it, ``crawler/metadata.py:303-332``;
    the HTTP fetch is a driver-side step — the engine ingests the
    file). Typed per schemas.NARRATORS."""
    df = spark.read.option("header", "true").csv(path)
    if "age" in df.columns:
        df = df.withColumn("age", F.col("age").cast("int"))
    if "id" in df.columns and "narrator_id" not in df.columns:
        df = df.withColumnRenamed("id", "narrator_id")
    return df


def read_url_list(spark: SparkSession, path: str) -> DataFrame:
    """S8: ``valid_book_urls.txt`` — comma-joined (audio_url,
    text_url, source) triples (reference ``crawler/metadata.py:
    80-91,402-407``). Both URLs ride in ONE row from the start — the
    reference's fragile positional zip (J2) has nothing to re-align."""
    return (
        spark.read.csv(path)
        .toDF("audio_url", "text_url", "source")
        .filter(F.col("audio_url").isNotNull())
    )


# ---------------------------------------------------------------------------
# the reference's ad-hoc query (F3 + F2 + F4)
# ---------------------------------------------------------------------------

def query_download_url(
    books: DataFrame,
    name: str | None = None,
    author: str | None = None,
    narrator: str | None = None,
    sample_k: int | None = None,
) -> DataFrame:
    """The ``query_download_url`` query (``crawler/utils.py:43-82``):
    case-insensitive conjunctive substring match on name/author/
    narrator ("all" bypasses), project download URLs dropping nulls
    (F2), optional exact-k sample (F4 — deterministic hash order
    instead of ``random.sample``)."""
    df = books.withColumn(
        "_narrator_names",
        F.array_join(
            F.transform(
                F.coalesce(F.col("narrator"), F.array()),
                lambda n: F.coalesce(n.getField("name"), F.lit("")),
            ),
            " ",
        ),
    )
    df = substring_query(
        df, name=name, author=author, _narrator_names=narrator
    )
    out = df.select(
        "id", "name", "text_download_url", "audio_download_url"
    ).na.drop(subset=["text_download_url", "audio_download_url"])
    if sample_k is not None:
        out = exact_k_global(out, key="id", k=sample_k)
    return out
