"""Vietnamese semiotic text normalization (SURVEY.md T3/T7/T8).

Re-expresses the behavior of the reference's
``VietnameseSemioticNormalizer`` (``pre_processing/process_all.py:
144-255``) and QC/publish text cleaning (``push_to_hf.py:27-49``,
``whisper_qc.py:100-122``) for Spark:

- the per-match rewrite callbacks (number formats, dates → "ngày …
  tháng … năm …", digit-by-digit Vietnamese reading) need regex
  *functions*, which Catalyst cannot express — they run as an
  Arrow-batched pandas UDF over a clean-room Python implementation
  of the same ordered rewrite chain;
- ``underthesea.text_normalize`` is applied when the library is
  importable and silently skipped otherwise — the exact semantics of
  the reference, which wraps the call in try/except and continues.

Rewrite order is load-bearing and matches the reference exactly:
url-strip → NFC → (underthesea) → number-format → currency → date →
digits-to-words → strip/collapse/lower.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf

try:  # optional Vietnamese NLP lib — absent in this container
    import underthesea  # type: ignore

    _HAS_UNDERTHESEA = True
except Exception:  # pragma: no cover
    underthesea = None
    _HAS_UNDERTHESEA = False

# ---------------------------------------------------------------------------
# pure-Python normalization core (runs inside the pandas UDF)
# ---------------------------------------------------------------------------

#: digit → Vietnamese word (reference digit table,
#: ``process_all.py:224-228``)
DIGIT_WORDS = (
    "không",
    "một",
    "hai",
    "ba",
    "bốn",
    "năm",
    "sáu",
    "bảy",
    "tám",
    "chín",
)

_RE_URL = re.compile(r"https?://[^\s]+")
_RE_NUMBER = re.compile(r"\b\d{1,3}(?:[.,]\d{3})*(?:[.,]\d+)?\b")
_RE_CURRENCY = re.compile(
    r"\b\d+(?:[.,]\d+)?\s*(?:VND|vnđ|đ|USD|\$|€|¥|₫)\b", re.IGNORECASE
)
_RE_DATE = re.compile(r"\b(\d{1,2})[/-](\d{1,2})[/-](\d{2,4})\b")
_RE_WS = re.compile(r"\s+")


def digits_to_words(num: int) -> str:
    """T8: Vietnamese number reading — single digits read as words,
    multi-digit numbers digit-by-digit ("123" → "một hai ba")."""
    s = str(num)
    if num < 10:
        return DIGIT_WORDS[num]
    return " ".join(DIGIT_WORDS[int(d)] for d in s)


def _fix_number_format(m: re.Match) -> str:
    """Mixed comma/dot groups: treat the earlier separator kind as
    thousands grouping, the later as the decimal point."""
    s = m.group()
    if "," in s and "." in s:
        if s.index(",") < s.index("."):
            return s.replace(",", "")
        return s.replace(".", "").replace(",", ".")
    return s


def _currency_std(m: re.Match) -> str:
    s = m.group()
    for old, new in (("vnđ", "VND"), ("đ", "VND"), ("₫", "VND"), ("$", "USD")):
        s = s.replace(old, new)
    return s.upper()


def _date_words(m: re.Match) -> str:
    day, month, year = m.groups()
    if len(year) == 2:
        year = ("20" if int(year) <= 30 else "19") + year
    return (
        f"ngày {digits_to_words(int(day))}"
        f" tháng {digits_to_words(int(month))}"
        f" năm {' '.join(digits_to_words(int(d)) for d in year)}"
    )


def _number_words(m: re.Match) -> str:
    s = m.group().replace(",", "").replace(".", "")
    try:
        return digits_to_words(int(s))
    except ValueError:  # pragma: no cover — pattern guarantees digits
        return m.group()


def normalize_vi(text: str | None) -> str:
    """The full ordered rewrite chain (reference
    ``process_all.py:165-193`` semantics)."""
    if not text:
        return ""
    text = _RE_URL.sub("", text)
    text = unicodedata.normalize("NFC", text)
    if _HAS_UNDERTHESEA:  # same silently-optional behavior as reference
        try:
            text = underthesea.text_normalize(text)
        except Exception:
            pass
    text = _RE_NUMBER.sub(_fix_number_format, text)
    text = _RE_CURRENCY.sub(_currency_std, text)
    text = _RE_DATE.sub(_date_words, text)
    text = _RE_NUMBER.sub(_number_words, text)
    text = _RE_WS.sub(" ", text.strip())
    # pre-fold the two codepoints where Python's full Unicode
    # lowercase diverges from simple (utf8proc/SQL) folding: İ
    # (U+0130 → 'i' + combining dot in Python, bare 'i' in DuckDB)
    # and Σ (context-sensitive final sigma in Python, always 'σ' in
    # DuckDB) — keeps the normalizer hash-certifiable on
    # out-of-language text without touching Vietnamese behavior
    text = text.replace("İ", "i").replace("Σ", "σ")
    return text.lower()


# QC/publish transcript cleaning (T7): special chars → space, digits
# read as Vietnamese words, collapse. Reference ``push_to_hf.py:27-49``.
_RE_SPECIAL = re.compile(r"[“”‘’–—•…]")
_RE_BARE_INT = re.compile(r"\b\d+\b")


def process_transcript(text: str | None) -> str:
    if not text:
        return ""
    text = _RE_SPECIAL.sub(" ", text)
    text = _RE_BARE_INT.sub(lambda m: digits_to_words(int(m.group())), text)
    return _RE_WS.sub(" ", text).strip()


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def normalize_vi_udf():
    """Arrow-batched semiotic normalizer (T3). Built lazily — pandas
    UDF type parsing needs an active SparkSession."""

    @pandas_udf("string")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(normalize_vi)

    return _udf


def process_transcript_udf():
    """Arrow-batched transcript cleaner (T7)."""

    @pandas_udf("string")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(process_transcript)

    return _udf
