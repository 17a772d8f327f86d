"""The text-statistics contract: ``textproc.text_stats`` (and the
``textstats.all_stats`` UDF columns built on it) against the JVM
expressions it replaced (``tests/jvm_stats_oracle.py``), row for row
and bit for bit.

The one stated difference is the Unicode version: letters and numbers
come from Python's ``unicodedata`` (14.0.0 on Python 3.11) while the
JVM's ``\\p{L}``/``\\p{N}`` are Java 17's Unicode 13 tables.  The code
points where the two disagree are enumerated and pinned below; every
corpus compared here avoids them.
"""

from __future__ import annotations

import random
import sys
import unicodedata

import pytest
from pyspark.sql import functions as F

from dqmtools_spark.functions import textproc, textstats
from dqmtools_spark.synth import synth_pages
from tests import jvm_stats_oracle

CRAFTED = [
    None,
    "",
    " ",
    "   \n  ",
    "\t",
    "\t\n\t",
    "\x0b\x0c\r",
    "a\x0bb\x0cc\rd e",
    "aa\N{NO-BREAK SPACE}bb cc",
    "x\x1cy \x1d \x1e\x1f z",
    "one\N{LINE SEPARATOR}two three",
    "a\N{IDEOGRAPHIC SPACE}b the",
    "123 456 7",
    "x \N{SUPERSCRIPT TWO} \N{VULGAR FRACTION ONE HALF} 12\N{SUPERSCRIPT TWO}",
    "\N{ROMAN NUMERAL TWELVE} \N{CIRCLED DIGIT ONE} \N{SMALL ROMAN NUMERAL ONE}x",
    "e\N{COMBINING ACUTE ACCENT} \N{COMBINING ACUTE ACCENT}1 \N{COMBINING ACUTE ACCENT}",
    "\N{MATHEMATICAL BOLD CAPITAL A}\N{MATHEMATICAL BOLD CAPITAL B} "
    "\N{DESERET CAPITAL LETTER LONG I} 1\N{MATHEMATICAL BOLD DIGIT ONE}",
    "ΟΔΟΣ ΤΗΣ the ς σ Σ",
    "\N{LATIN CAPITAL LETTER I WITH DOT ABOVE}n the and \N{LATIN CAPITAL LETTER I WITH DOT ABOVE}",
    "THE And Für FÜR für \N{KELVIN SIGN}",
    "\N{LATIN CAPITAL LETTER DZ WITH CARON} \N{MODIFIER LETTER SMALL H} _ __ a_b",
    "\tthe\t\n\t\n \n",
    "…\n• item\n- item\n* item...\nend…\n...",
    "• \n•x\n-  \n*\n - x\n-x",
    "x the\N{LINE SEPARATOR}",
    "the\N{PARAGRAPH SEPARATOR}",
    "de\x85",
    "the\N{LINE SEPARATOR}\N{LINE SEPARATOR}",
    "x\N{LINE SEPARATOR}",
    "The\r\n",
    "the\n",
    "{ code } {",
    "line\nline\n line\nline \nline",
    "#$%@! #$%@! x",
]

# pieces for the seeded random corpus: every separator and boundary
# case above, mixed
_PIECES = [
    "the", "de", "für", "THE", "data", "x1", "1", "12", "\N{SUPERSCRIPT TWO}",
    "\N{VULGAR FRACTION ONE HALF}", "\N{MATHEMATICAL BOLD CAPITAL A}", "Σ", "ς",
    "\N{LATIN CAPITAL LETTER I WITH DOT ABOVE}", "\N{COMBINING ACUTE ACCENT}", "_",
    "{", "...", "…", "• ", "- ", "* ", "#", ".", " ", " ", "  ", "\t", "\n", "\n",
    "\x0b", "\x0c", "\r", "\N{NO-BREAK SPACE}", "\x1c", "\x1f",
    "\N{LINE SEPARATOR}", "\N{PARAGRAPH SEPARATOR}", "\x85",
    "\N{IDEOGRAPHIC SPACE}", "中文",
]


def _random_corpus(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choices(_PIECES, k=rng.randint(0, 40))) for _ in range(n)]


def _compare(spark, texts: list[str | None]) -> None:
    """Oracle columns, engine UDF columns and the plain function agree
    on every statistic of every text (values and Python types)."""
    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    oracle = jvm_stats_oracle.all_stats(F.col("t"))
    engine = textstats.all_stats(F.col("t"))
    rows = (
        df.select(
            "i",
            F.struct(*[c.alias(k) for k, c in oracle.items()]).alias("o"),
            F.struct(*[c.alias(k) for k, c in engine.items()]).alias("e"),
        )
        .orderBy("i")
        .collect()
    )
    assert len(rows) == len(texts)
    assert list(oracle) == list(engine) == list(textproc.TextStats._fields)
    for text, row in zip(texts, rows):
        expected = row.o.asDict()
        local = textproc.text_stats(text)._asdict()
        for got in (row.e.asDict(), local):
            assert {k: (type(v), v) for k, v in got.items()} == {
                k: (type(v), v) for k, v in expected.items()
            }, repr(text)


def test_stats_match_jvm_oracle_on_synth_pages(spark):
    texts = [r.text for r in synth_pages(spark, 400, seed=1).select("text").collect()]
    _compare(spark, texts)


def test_stats_match_jvm_oracle_on_crafted_corpus(spark):
    _compare(spark, CRAFTED)


def test_stats_match_jvm_oracle_on_random_corpus(spark):
    _compare(spark, _random_corpus(600, seed=3))


# Code points that Python 3.11 (Unicode 14.0) puts in category L or N
# and Java 17 (Unicode 13) does not: all of them were assigned in 14.0.
# There are none the other way.  Inclusive (first, last) ranges.
PYTHON_ONLY_L = [
    (0x0870, 0x0887), (0x0889, 0x088E), (0x08B5, 0x08B5), (0x08C8, 0x08C9),
    (0x0C5D, 0x0C5D), (0x0CDD, 0x0CDD), (0x170D, 0x170D), (0x171F, 0x171F),
    (0x1B4C, 0x1B4C), (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF),
    (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3), (0xA7D5, 0xA7D9),
    (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A), (0x1058C, 0x10592),
    (0x10594, 0x10595), (0x10597, 0x105A1), (0x105A3, 0x105B1), (0x105B3, 0x105B9),
    (0x105BB, 0x105BC), (0x10780, 0x10785), (0x10787, 0x107B0), (0x107B2, 0x107BA),
    (0x10F70, 0x10F81), (0x11071, 0x11072), (0x11075, 0x11075), (0x11740, 0x11746),
    (0x11AB0, 0x11ABF), (0x12F90, 0x12FF0), (0x16A70, 0x16ABE), (0x1AFF0, 0x1AFF3),
    (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122), (0x1DF00, 0x1DF1E),
    (0x1E290, 0x1E2AD), (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE),
    (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B738),
]
PYTHON_ONLY_N = [(0x16AC0, 0x16AC9)]


def _expand(ranges):
    return {chr(c) for a, b in ranges for c in range(a, b + 1)}


def test_unicode_letter_number_disagreement_is_pinned(spark):
    every = "".join(chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF)
    jvm = (
        spark.createDataFrame([(every,)], "s string")
        .select(
            F.regexp_replace("s", r"[^\p{L}]", "").alias("L"),
            F.regexp_replace("s", r"[^\p{N}]", "").alias("N"),
        )
        .first()
    )
    py_l = {c for c in every if unicodedata.category(c)[0] == "L"}
    py_n = {c for c in every if unicodedata.category(c)[0] == "N"}
    assert unicodedata.unidata_version == "14.0.0", (
        "text stats classify letters/numbers with this interpreter's Unicode "
        f"{unicodedata.unidata_version} tables; the supported Python is 3.11 "
        "(Unicode 14.0.0), see the contract comment above textproc.text_stats"
    )
    assert len(_expand(PYTHON_ONLY_L)) == 515 and len(_expand(PYTHON_ONLY_N)) == 10
    assert set(jvm.L) - py_l == set() and set(jvm.N) - py_n == set()
    assert py_l - set(jvm.L) == _expand(PYTHON_ONLY_L)
    assert py_n - set(jvm.N) == _expand(PYTHON_ONLY_N)


@pytest.mark.parametrize("stat", ["alpha_word_fraction", "symbol_ratio"])
def test_every_code_point_classified_as_pinned(spark, stat):
    """One token per code point: the engine and the oracle count letter
    tokens and symbols the same except on exactly the pinned set."""
    ws = " \t\n\x0b\x0c\r"
    chars = [chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]
    text = " ".join(c for c in chars if c not in ws)
    oracle = jvm_stats_oracle.all_stats(F.col("t"))
    row = spark.createDataFrame([(text,)], "t string").select(
        oracle["word_count"].alias("wc"), oracle[stat].alias("v")
    ).first()
    local = textproc.text_stats(text)
    assert local.word_count == row.wc
    scale = row.wc if stat == "alpha_word_fraction" else len(text)
    extra = round((getattr(local, stat) - row.v) * scale)
    pinned = _expand(PYTHON_ONLY_L)
    if stat == "symbol_ratio":  # the JVM calls the new L/N code points symbols
        extra, pinned = -extra, pinned | _expand(PYTHON_ONLY_N)
    assert extra == len(pinned)


def test_langid_counts_markers_next_to_punctuation():
    """The stand-in langid tokenises on letter runs, unlike the stats:
    markers touching punctuation, digits or '_' still count."""
    assert textproc.langid_scores("the, and. of; (is) 1with_for")["en"] == 6
    assert textproc.predict_lang("the, and. of; is") == "en"
    assert textproc.predict_lang("und. (der) die, das") == "de"
