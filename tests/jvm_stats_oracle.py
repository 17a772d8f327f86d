"""Independent oracle for the per-document text statistics.

These are the Spark SQL column expressions the engine used to compute
the nine Gopher/C4 statistics JVM-side, kept verbatim as the reference
the Python implementation (``textproc.text_stats``) is checked against.
Java regex semantics apply: ``\\s`` is the six ASCII whitespace
characters, ``\\p{L}``/``\\p{N}`` follow the JVM's Unicode tables, ``$``
also matches before one final line terminator, and ``trim`` removes
spaces only.  The only thing taken from the package is the marker word
list.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dqmtools_spark.functions.textproc import LANG_MARKERS

ALL_MARKERS = sorted(set().union(*LANG_MARKERS.values()))


def _lines(text: Column) -> Column:
    return F.split(text, r"\n")


def _nonempty_lines(text: Column) -> Column:
    return F.filter(_lines(text), lambda x: F.length(F.trim(x)) > 0)


def word_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"\S+")).cast("long")


def mean_word_len(text: Column) -> Column:
    wc = word_count(text)
    non_ws = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    return F.when(wc == 0, F.lit(None).cast("double")).otherwise(
        non_ws.cast("double") / wc
    )


def symbol_ratio(text: Column) -> Column:
    total = F.length(text)
    syms = F.regexp_count(text, F.lit(r"[^\p{L}\p{N}\s]"))
    return F.when(total == 0, F.lit(0.0)).otherwise(syms.cast("double") / total)


_MARKER_PATTERN = r"(?:(?<=\s)|^)(?:" + "|".join(ALL_MARKERS) + r")(?=\s|$)"


def stopword_fraction(text: Column) -> Column:
    wc = word_count(text)
    hits = F.regexp_count(F.lower(text), F.lit(_MARKER_PATTERN))
    return F.when(wc == 0, F.lit(0.0)).otherwise(hits.cast("double") / wc)


def repeated_line_fraction(text: Column) -> Column:
    ls = _nonempty_lines(text)
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(ls)).cast("double") / F.size(ls)
    )


def alpha_word_fraction(text: Column) -> Column:
    wc = word_count(text)
    non_alpha = F.regexp_count(text, F.lit(r"(?:(?<=\s)|^)[^\s\p{L}]+(?=\s|$)"))
    return F.when(wc == 0, F.lit(0.0)).otherwise((wc - non_alpha).cast("double") / wc)


def ellipsis_line_fraction(text: Column) -> Column:
    ls = _nonempty_lines(text)
    hits = F.size(F.filter(ls, lambda x: x.endswith("...") | x.endswith("…")))
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(hits.cast("double") / F.size(ls))


def bullet_line_fraction(text: Column) -> Column:
    ls = _nonempty_lines(text)
    hits = F.size(
        F.filter(
            ls, lambda x: x.startswith("- ") | x.startswith("* ") | x.startswith("• ")
        )
    )
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(hits.cast("double") / F.size(ls))


def has_curly_brace(text: Column) -> Column:
    return F.contains(text, F.lit("{"))


def all_stats(text: Column) -> dict[str, Column]:
    return {
        "word_count": word_count(text),
        "mean_word_len": mean_word_len(text),
        "symbol_ratio": symbol_ratio(text),
        "stopword_fraction": stopword_fraction(text),
        "repeated_line_fraction": repeated_line_fraction(text),
        "alpha_word_fraction": alpha_word_fraction(text),
        "ellipsis_line_fraction": ellipsis_line_fraction(text),
        "bullet_line_fraction": bullet_line_fraction(text),
        "has_curly_brace": has_curly_brace(text),
    }
