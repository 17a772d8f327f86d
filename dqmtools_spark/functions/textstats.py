"""Column-level text helpers and the Gopher/C4 statistics bundle.

The nine per-document quality signals are computed in Python by
:func:`textproc.text_stats` (token, line and Unicode definitions are
stated there), inside the fused pipeline UDF, so the rule layer reads
them as plain columns.  :func:`all_stats` exposes the same function as
the fields of one pandas UDF for callers that hold only a text column.
Analog of the reference's per-channel stats consumption (SURVEY §2.5
G10, ``wibeth_tests.py:241-242``) — here recomputed per document.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dqmtools_spark.functions.textproc import ALL_MARKERS, TextStats  # noqa: F401
from dqmtools_spark.functions.udfs import text_stats_udf


def lines(text: Column) -> Column:
    return F.split(text, r"\n")


def all_stats(text: Column) -> dict[str, Column]:
    """The full stat bundle the rule layer consumes, one column per
    statistic, all fields of a single :func:`text_stats_udf` call."""
    stats = text_stats_udf(text)
    return {name: stats[name] for name in TextStats._fields}


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: word pieces + standalone punctuation."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]")).cast("long")


def dedup_repeated_lines(text: Column) -> Column:
    """Gopher-style intra-document boilerplate REMOVAL (the transform
    companion of the ``repeated_line_fraction`` signal): keep the
    FIRST occurrence of every exact line, preserving order, and
    reassemble with newlines.  Per-row, no shuffle.

    ``array_distinct`` is O(L) per doc and keep-first-order in Spark
    (pinned by test_dedup_lines_distinct_is_keep_first against the
    positional-filter reference form, which is O(L^2) — quadratic in
    lines would bite on 10k-line boilerplate pages at corpus scale);
    the DuckDB oracle uses the positional form because LIST_DISTINCT
    does not guarantee order there."""
    return F.array_join(F.array_distinct(lines(text)), "\n")
