"""Golden tests for scalar text functions (SURVEY §2.7) — cases from
FIXTURES.md and the reference docs."""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

from vnavc_spark.functions import text as TX
from vnavc_spark.pipeline.vietnamese import (
    digits_to_words,
    normalize_vi,
    process_transcript,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


_VI_ALPHABET = (
    "aàáảãạăằắẳẵặâầấẩẫậbcdđeèéẻẽẹêềếểễệghiìíỉĩịklmnoòóỏõọôồốổỗộơờớởỡợ"
    "pqrstuùúủũụưừứửữựvxyỳýỷỹỵ"
)


class TestCaseMapping:
    """``get_spark`` turns ICU case mapping off, so ``lower``/``upper``
    use Java's ``String`` case mapping; the rows the engine sees must not
    change."""

    ICU = "spark.sql.icu.caseMappings.enabled"

    def _mapped(self, spark, strings):
        df = spark.createDataFrame([(s,) for s in strings], "s string")
        rows = df.select("s", F.lower("s").alias("l"), F.upper("s").alias("u"))
        return {r.s: (r.l, r.u) for r in rows.collect()}

    def test_icu_off_and_on_map_the_same(self, spark):
        assert spark.conf.get(self.ICU) == "false"
        strings = [
            _VI_ALPHABET,
            _VI_ALPHABET.upper(),
            TX.DEACCENT_SRC,
            TX.DEACCENT_SRC.upper(),
            "đĐ",
            "İSTANBUL",
            "ΟΔΟΣ ΣΟΦΙΑΣ",
            "straße",
        ]
        off = self._mapped(spark, strings)
        spark.conf.set(self.ICU, "true")
        try:
            on = self._mapped(spark, strings + ["ƛ"])
        finally:
            spark.conf.set(self.ICU, "false")
        # the switch took effect: ICU4J's Unicode 16 tables upper ƛ to
        # U+A7DC, a letter JDK 17's Unicode 13 tables do not have
        assert on.pop("ƛ") == ("ƛ", "\ua7dc")
        assert on == off

    def test_lower_upper_match_duckdb(self, spark):
        import duckdb

        # DuckDB maps case one code point at a time; the few letters whose
        # full uppercase is two code points (ǰ -> J̌, ẖ -> H̱, ...) are
        # checked against the full mapping below instead
        single = "".join(c for c in TX.DEACCENT_SRC if len(c.upper()) == 1)
        strings = [
            _VI_ALPHABET,
            _VI_ALPHABET.upper(),
            single,
            single.upper(),
            "đ",
            "Đ",
            "Chút Phận Linh Đinh",
            "SÁCH hay: Tập 2 ĐƯỜNG x-y ABC def 123",
        ]
        con = duckdb.connect()
        for s, (lower, upper) in self._mapped(spark, strings).items():
            assert (lower, upper) == con.execute(
                "SELECT lower(?), upper(?)", [s, s]
            ).fetchone(), s

    def test_full_case_mapping_kept(self, spark):
        # Unicode's full case mapping, as Python's str.lower/upper apply
        # it: İ lowers to i + combining dot (DuckDB gives a bare i, and so
        # does a JVM whose default locale is tr or az), a word-final sigma
        # to ς, ǰ uppers to J + combining caron
        strings = ["İ", "İSTANBUL", "ΟΔΟΣ ΣΟΦΙΑΣ", TX.DEACCENT_SRC, "straße"]
        for s, got in self._mapped(spark, strings).items():
            assert got == (s.lower(), s.upper()), s


class TestNormalizeName:
    def test_vietnamese_deaccent(self, spark):
        # FIXTURES golden: đ preserved (not a combining mark), accents
        # stripped, spaces → hyphens, lowercase
        out = _one(spark, TX.normalize_name(F.lit("Chút Phận Linh Đinh")))
        assert out == "chut-phan-linh-đinh"

    def test_punctuation_dropped_hyphen_kept(self, spark):
        out = _one(spark, TX.normalize_name(F.lit("Sách: Hay! (tập 2) x-y")))
        assert out == "sach-hay-tap-2-x-y"

    def test_matches_nfd_reference_behavior(self, spark):
        # our translate table must agree with NFD-strip for the
        # Vietnamese alphabet (reference __init__.py:10-29 semantics)
        samples = ["ế ỏ Ữ â", "đường Đèo", "ngữ điệu ổn"]
        for s in samples:
            nfd = "".join(
                ch
                for ch in unicodedata.normalize("NFD", s.lower())
                if not unicodedata.combining(ch)
            )
            expected = "-".join(nfd.split())
            assert _one(spark, TX.normalize_name(F.lit(s))) == expected

    def test_byte_exact_reference_parity(self, spark):
        # the reference algorithm verbatim (__init__.py:10-29):
        # NFD-strip -> [^\w\s\-] drop -> lower -> ' '->'-' per space
        import re as _re

        def ref(name: str) -> str:
            out = unicodedata.normalize("NFD", name)
            out = "".join(
                c for c in out if unicodedata.category(c) != "Mn"
            )
            out = _re.sub(r"[^\w\s\-]", "", out)
            return out.lower().replace(" ", "-")

        cases = [
            "Müller und Söhne",        # non-Vietnamese accents de-accent
            "niño François ça",        # ñ/ç (ç IS base+cedilla in NFD)
            "double  space",           # runs are NOT collapsed
            " lead and trail ",        # no trim
            "tab\there",               # non-space whitespace survives
            "e\u0301 decomposed",      # combining mark on decomposed input
            "Chút Phận Linh Đinh",
        ]
        for s2 in cases:
            assert _one(spark, TX.normalize_name(F.lit(s2))) == ref(s2), s2


class TestConvertDuration:
    @pytest.mark.parametrize(
        ("raw", "hours"),
        [
            ("01:20:00", 1.3333),  # FIXTURES golden, rounded to 4dp
            ("4;30:00", 4.5),  # dirty ';' tolerated
            ("45:30", 0.7583),  # MM:SS, round(0.75833.., 4)
            ("1::30", round((60 + 30) / 3600, 4)),  # ';:' runs collapse
            ("::5", round(5 / 3600, 4)),  # empty parts skipped
            ("x:y", None),
            ("12", round(12 / 3600, 4)),  # single field = seconds (ref)
            ("1:2:3:4", round((((1 * 60 + 2) * 60 + 3) * 60 + 4) / 3600, 4)),
            ("", 0.0),  # all-empty parts -> 0, the reference's behavior
            (None, None),
        ],
    )
    def test_cases(self, spark, raw, hours):
        out = _one(
            spark,
            TX.convert_duration(F.lit(raw).cast("string"), "hours"),
        )
        if hours is None:
            assert out is None
        else:
            assert out == pytest.approx(hours)

    def test_seconds_unit(self, spark):
        assert _one(
            spark, TX.convert_duration(F.lit("00:01:05"), "seconds")
        ) == pytest.approx(65.0)


class TestMisc:
    def test_strip_punctuation(self, spark):
        out = _one(spark, TX.strip_punctuation(F.lit("a,b.c!d?e(f)g")))
        assert out == "abcdefg"

    def test_trailing_int(self, spark):
        assert _one(spark, TX.trailing_int(F.lit("book_12.mp3"))) == 12
        assert _one(spark, TX.trailing_int(F.lit("book.mp3"))) == -1

    def test_book_prefix_and_stem(self, spark):
        assert _one(spark, TX.book_prefix(F.lit("/x/y/abc_3.wav"))) == "abc"
        assert _one(spark, TX.file_stem(F.lit("/x/y/abc_3.wav"))) == "abc_3"

    def test_deterministic_id_stable(self, spark):
        a = _one(spark, TX.deterministic_id(F.lit("x"), F.lit(1)))
        b = _one(spark, TX.deterministic_id(F.lit("x"), F.lit(1)))
        assert a == b and len(a) == 8

    def test_clean_transcript(self, spark):
        out = _one(spark, TX.clean_transcript(F.lit("“Xin – chào…  bạn”")))
        assert out == "Xin chào bạn"


class TestVietnameseNormalizer:
    """Golden cases from the reference docs (FIXTURES.md §Golden)."""

    def test_digit_words(self):
        assert digits_to_words(5) == "năm"
        assert digits_to_words(123) == "một hai ba"

    def test_bare_number(self):
        assert normalize_vi("123") == "một hai ba"

    def test_date_rewrite(self):
        # digit-by-digit reading per process_all.py:224-228 semantics
        assert (
            normalize_vi("12/01/2023")
            == "ngày một hai tháng một năm hai không hai ba"
        )

    def test_two_digit_year_expansion(self):
        assert "năm hai không hai ba" in normalize_vi("1/1/23")
        assert "năm một chín chín chín" in normalize_vi("1/1/99")

    def test_currency_standardized(self):
        out = normalize_vi("giá 5đ thôi")
        assert "vnd" in out and "đ" not in out.replace("vnđ", "")

    def test_url_stripped_and_lowercased(self):
        out = normalize_vi("Xem https://example.com/x NGAY")
        assert "http" not in out and out == "xem ngay"

    def test_number_format_mixed_separators(self):
        # comma before dot → comma is thousands sep
        assert normalize_vi("1,234.5") == normalize_vi("1234.5")

    def test_empty(self):
        assert normalize_vi(None) == "" and normalize_vi("") == ""

    def test_process_transcript_digits(self):
        assert process_transcript("có 12 con") == "có một hai con"


class TestPiiScrub:
    def test_masks_all_three_kinds(self, spark):
        from vnavc_spark.functions import quality as Q

        s = (
            "mail me at jane.doe+x@corp.example.org or see "
            "https://ex.vn/a?b=1 or call +84 912 345 678 today"
        )
        out = _one(spark, Q.scrub_pii(F.lit(s)))
        assert out == "mail me at <EMAIL> or see <URL> or call <PHONE> today"

    def test_counts(self, spark):
        from vnavc_spark.functions import quality as Q

        s = "a@b.io c@d.vn https://x.y 0912 345 678"
        assert _one(spark, Q.count_matches(F.lit(s), Q.PII_EMAIL)) == 2
        assert _one(spark, Q.count_matches(F.lit(s), Q.PII_URL)) == 1
        assert _one(spark, Q.count_matches(F.lit(s), Q.PII_PHONE)) == 1

    def test_clean_text_untouched(self, spark):
        from vnavc_spark.functions import quality as Q

        s = "no personal data here, just words and 42 numbers"
        assert _one(spark, Q.scrub_pii(F.lit(s))) == s


class TestC4Gate:
    def test_gate_components(self, spark):
        from vnavc_spark.functions import quality as Q

        good = "the quick brown fox jumps over this lazy dog again and again today"
        short = "too short"
        symbols = "the ### quick ### brown ### fox ### jumps and the dog runs"
        rows = [(1, good), (2, short), (3, symbols)]
        df = spark.createDataFrame(rows, ["id", "text"])
        out = {r.id: r.keep for r in df.select("id", Q.c4_quality_gate("text").alias("keep")).collect()}
        assert out[1] is True
        assert out[2] is False  # under min_words
        assert out[3] is False  # symbol density over cap
