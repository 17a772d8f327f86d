"""The BASELINE gates: keep/drop F1 >= 0.99 and byte-identical text.

Spark pipeline vs the independent pure-pandas reference labeler over
the deterministic synthetic pages table (seed 42) plus one page with an
interior no-break space, which the token contract keeps inside a token.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dqmtools_spark.functions.textproc import extract_text
from dqmtools_spark.pipeline import run_pipeline
from dqmtools_spark.schemas import PAGES_SCHEMA
from dqmtools_spark.synth import gen_pages_pdf, synth_pages
from tests.reference_impl import label_pages

N_DOCS = 400
SEED = 42


# 14 tokens under the engine's ASCII-whitespace contract, 15 under
# str.split(), which also splits on the no-break space
NBSP_URL = "u://nbsp"
NBSP_HTML = (
    "<html><body><p>the data and the table of the query is in the stream "
    "with key\N{NO-BREAK SPACE}value</p></body></html>"
).encode("utf-8")


@pytest.fixture(scope="module")
def joined(spark):
    pdf = gen_pages_pdf(SEED, list(range(N_DOCS)))
    nbsp = dict(pdf.iloc[0], url=NBSP_URL, html=NBSP_HTML, text=extract_text(NBSP_HTML))
    pdf = pd.concat([pdf, pd.DataFrame([nbsp])], ignore_index=True)
    result, _ = run_pipeline(spark, spark.createDataFrame(pdf, PAGES_SCHEMA))
    got = result.toPandas().set_index("url").sort_index()
    ref = label_pages(pdf).set_index("url").sort_index()
    assert len(got) == len(ref) == N_DOCS + 1
    return got, ref


def test_keep_drop_f1(joined):
    got, ref = joined
    tp = int(((got["keep"]) & (ref["keep"])).sum())
    fp = int(((got["keep"]) & (~ref["keep"])).sum())
    fn = int(((~got["keep"]) & (ref["keep"])).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99 (fp={fp}, fn={fn})"


def test_scrubbed_text_byte_identical(joined):
    got, ref = joined
    mismatches = (got["scrubbed_text"] != ref["scrubbed_text"]).sum()
    assert mismatches == 0, f"{mismatches} urls with non-identical scrubbed text"


def test_reasons_identical(joined):
    got, ref = joined
    for url in got.index:
        assert list(got.loc[url, "reasons"]) == list(ref.loc[url, "reasons"]), url


def test_nbsp_is_not_whitespace(joined):
    got, ref = joined
    assert list(got.loc[NBSP_URL, "reasons"]) == ["min_word_count"]
    assert list(ref.loc[NBSP_URL, "reasons"]) == ["min_word_count"]


def test_langid_identical(joined):
    got, ref = joined
    assert (got["lang_pred"] == ref["lang_pred"]).all()


def test_extraction_matches_pages_text(spark):
    """Re-extracted text (pandas UDF over html) == the table's text
    column, byte for byte — the per-url invariant from input_hint."""
    from pyspark.sql import functions as F

    from dqmtools_spark.functions.udfs import extract_text_udf

    pages = synth_pages(spark, 200, seed=SEED)
    bad = (
        pages.withColumn("re_ex", extract_text_udf(F.col("html")))
        .filter(~F.col("re_ex").eqNullSafe(F.col("text")))
        .count()
    )
    assert bad == 0


def test_synth_is_partitioning_invariant(spark):
    """Same (seed, n) at different parallelism -> identical table."""
    a = synth_pages(spark, 100, seed=7, num_partitions=1).toPandas()
    b = synth_pages(spark, 100, seed=7, num_partitions=13).toPandas()
    a = a.sort_values("url").reset_index(drop=True)
    b = b.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
