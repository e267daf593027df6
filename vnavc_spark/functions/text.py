"""String/text scalar functions (SURVEY.md §2.7, T1-T10).

All pure Catalyst expressions — no Python UDFs. The Vietnamese
de-accent table makes T1 native: the reference does NFD-decompose +
strip combining marks (``tts_data_pipeline/__init__.py:10-29``); for
the fixed Vietnamese alphabet that is exactly a character translate,
which stays in whole-stage codegen instead of a per-row UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# T1 — normalize_name (reference __init__.py:10-29)
# ---------------------------------------------------------------------------


def _build_deaccent_table() -> tuple[str, str]:
    """Precompute the NFD-equivalent de-accent map for every LOWERCASE
    precomposed Latin letter (Latin-1 … Latin Extended Additional,
    which contains the Vietnamese range): char → its NFD base when
    stripping combining marks yields a single ASCII letter. Driver-
    side once; the result is a plain ``translate`` — codegen'd, no
    per-row Unicode machinery. đ survives (no decomposition), exactly
    like the reference's NFD strip."""
    import unicodedata

    src, dst = [], []
    for cp in range(0x00C0, 0x1F00):
        ch = chr(cp)
        if ch != ch.lower():  # uppercase handled by lower() upstream
            continue
        base = "".join(
            c
            for c in unicodedata.normalize("NFD", ch)
            if unicodedata.category(c) != "Mn"
        )
        if base != ch and len(base) == 1 and base.isascii() and base.isalpha():
            src.append(ch)
            dst.append(base)
    return "".join(src), "".join(dst)


DEACCENT_SRC, DEACCENT_DST = _build_deaccent_table()


def normalize_name(col: Column | str) -> Column:
    """T1: the reference's slug exactly (``__init__.py:10-29``):
    NFD de-accent (any Latin letter — ü→u, ñ→n, Vietnamese table
    included; đ kept) → drop everything but word chars / whitespace /
    hyphen → lower → each SPACE becomes one hyphen (runs are NOT
    collapsed, and there is no trim — byte-for-byte reference slugs).

    Decomposed input (base + combining mark) also works: the mark is
    not ``\\p{L}``, so the punctuation strip removes it, leaving the
    base — the same result the reference's NFD pass produces."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(F.lower(c), DEACCENT_SRC, DEACCENT_DST)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}_\s\-]", "")
    return F.regexp_replace(c, " ", "-")


# ---------------------------------------------------------------------------
# T2 — convert_duration (reference __init__.py:32-73)
# ---------------------------------------------------------------------------

def convert_duration(col: Column | str, unit: str = "hours") -> Column:
    """T2: the reference's tolerant duration parse exactly
    (``__init__.py:32-73``; duplicate at
    ``crawler/metadata.py:204-224``):

    - ``[;:]+`` runs collapse to one ``:`` ("1::30" → "1:30");
    - empty parts are skipped ("::5" → 5 s);
    - ANY part count: "45" → 45 s, "1:2:3:4" → base-60 fold over all
      four; "" → 0 (all parts empty — the reference returns 0 too);
    - each part goes through ``int()`` → optional sign + surrounding
      whitespace tolerated; any other junk → NULL (reference: None);
    - minutes/hours are rounded to 4 decimals. The reference uses
      Python ``round`` (half-to-even); we use the engine-portable
      ``floor(x·10⁴+0.5)`` which differs only on exact .5 ties of the
      binary double — unobservable for base-60 rationals in practice.

    Implemented as a left-to-right fold with base-60 place values
    over the non-empty parts; lambdas touch element args only.
    """
    from vnavc_spark.functions.portable import stable_round

    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.trim(c), "[;:]+", ":")
    parts = F.filter(F.split(cleaned, ":"), lambda p: p != "")
    # int()-equivalent gate: sign + digits, surrounding whitespace ok
    all_numeric = F.forall(parts, lambda p: p.rlike(r"^\s*[+-]?\d+\s*$"))
    seconds = F.aggregate(
        parts,
        F.lit(0.0),
        lambda acc, x: acc * 60.0 + x.cast("double"),
    )
    seconds = F.when(all_numeric, seconds)
    if unit in ("seconds", "second"):
        return seconds
    if unit in ("minutes", "minute"):
        return stable_round(seconds / 60.0, 4)
    if unit in ("hours", "hour"):
        return stable_round(seconds / 3600.0, 4)
    raise ValueError(f"unknown unit {unit!r}")


# ---------------------------------------------------------------------------
# T5 / T7 — punctuation strip & transcript cleaning
# ---------------------------------------------------------------------------

#: string.punctuation, the exact set the reference removes
#: (``process_all.py:281-283`` uses str.translate over it).
PUNCTUATION = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""


def strip_punctuation(col: Column | str, keep: str = "") -> Column:
    """T5: remove ASCII punctuation via ``translate`` (codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    drop = "".join(ch for ch in PUNCTUATION if ch not in keep)
    return F.translate(c, drop, "")


def clean_transcript(col: Column | str) -> Column:
    """T7 (regex part): strip curly quotes/dash/bullet/ellipsis and
    collapse whitespace (reference ``push_to_hf.py:27-49``; the
    num2words digit rewrite lives in ``vietnamese.py``)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "[“”‘’–—•…]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# ---------------------------------------------------------------------------
# T9 — deterministic ids (replaces secrets.token_hex(4))
# ---------------------------------------------------------------------------

def deterministic_id(*cols: Column | str, length: int = 8) -> Column:
    """T9: 8-hex id as sha2 of the identifying columns — reproducible
    across re-runs, unlike the reference's ``secrets.token_hex(4)``
    (``__init__.py:355-366``). Null-safe: nulls hash as empty string.
    """
    parts = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(""))
        for c in cols
    ]
    return F.substring(F.sha2(F.concat_ws("", *parts), 256), 1, length)


# ---------------------------------------------------------------------------
# T10 / O1 — filename parsing & natural sort keys
# ---------------------------------------------------------------------------

def book_prefix(col: Column | str) -> Column:
    """T10: book prefix = stem up to first ``_`` (reference
    ``crawler/utils.py:114``)."""
    c = F.col(col) if isinstance(col, str) else col
    stem = F.regexp_extract(c, r"([^/]+?)(?:\.\w+)?$", 1)
    return F.split(stem, "_").getItem(0)


def trailing_int(col: Column | str) -> Column:
    """O1: natural-sort key — trailing integer before the extension
    (reference regex ``(\\d+)(?=\\.\\w+$)`` at
    ``process_all.py:612-617``); -1 when absent so unnumbered singles
    sort first."""
    c = F.col(col) if isinstance(col, str) else col
    digits = F.regexp_extract(c, r"(\d+)\.\w+$", 1)
    return F.when(digits == "", F.lit(-1)).otherwise(digits.cast("int"))


def file_stem(col: Column | str) -> Column:
    """Path → stem (basename minus extension), for J1 stem pairing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"([^/]+?)(?:\.\w+)?$", 1)
