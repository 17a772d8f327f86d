"""Vectorized pandas/Arrow UDFs — the only Python in the hot path.

The pipeline's Python work is ONE fused UDF per input form
(``process_page_udf`` over html, ``process_text_udf`` over text): it
calls the canonical pure functions of ``textproc.py`` (the
byte-identical contract) for extraction, langid, perplexity, scrub and
the nine Gopher/C4 text statistics, and returns them as one struct, so
the text crosses the JVM<->Python boundary once.  ``extract_text_udf``
and ``text_stats_udf`` expose single steps of it.  Models (unigram LM)
are built lazily once per executor process via a module-level
singleton — the reference's channel-map-per-decoder pattern
(``dataframe_creator.py:32-116``) re-expressed as broadcast-free
deterministic state.

No per-row Spark UDFs (``F.udf``) anywhere (BASELINE input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqmtools_spark.functions import textproc


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """HTML bytes -> extracted text (byte-identical per url)."""
    return html.map(textproc.extract_text)


_MODEL_CACHE: dict[str, object] = {}


def _get_lm() -> tuple[dict[str, float], float]:
    if "lm" not in _MODEL_CACHE:
        _MODEL_CACHE["lm"] = textproc.lm_and_oov()
    return _MODEL_CACHE["lm"]  # type: ignore[return-value]


# ---------------------------------------------------------------- fused

_STAT_TYPES = {"word_count": T.LongType(), "has_curly_brace": T.BooleanType()}
_STAT_FIELDS = [
    T.StructField(name, _STAT_TYPES.get(name, T.DoubleType()))
    for name in textproc.TextStats._fields
]
_PROC_FIELDS = (
    [
        T.StructField("text_ex", T.StringType()),
        T.StructField("lang_pred", T.StringType()),
        T.StructField("perplexity", T.DoubleType()),
        T.StructField("scrubbed_text", T.StringType()),
    ]
    + [T.StructField(f"hits_{k}", T.LongType()) for k in textproc.SCRUB_KINDS]
    + _STAT_FIELDS
)
_PROC_SCHEMA = T.StructType(_PROC_FIELDS)

# flat field order of the fused-UDF output (checkpoint schema)
PROC_FIELD_NAMES = [f.name for f in _PROC_FIELDS]


def _stats_frame(texts) -> pd.DataFrame:
    return pd.DataFrame.from_records(
        [textproc.text_stats(t) for t in texts], columns=textproc.TextStats._fields
    )


@F.pandas_udf(T.StructType(_STAT_FIELDS))
def text_stats_udf(text: pd.Series) -> pd.DataFrame:
    """text -> the nine Gopher/C4 statistics (:func:`textproc.text_stats`)."""
    return _stats_frame(text)


def _process_texts(texts: pd.Series, lm=None, langid_fn=None, ppl_fn=None) -> pd.DataFrame:
    if ppl_fn is None:
        model, oov = lm if lm is not None else _get_lm()
        ppl_fn = lambda t: textproc.perplexity(t, model, oov)  # noqa: E731
    predict = langid_fn if langid_fn is not None else textproc.predict_lang
    langs, ppls, scrubbed = [], [], []
    counters: dict[str, list[int]] = {k: [] for k in textproc.SCRUB_KINDS}
    for t in texts:
        langs.append(predict(t))
        ppls.append(ppl_fn(t))
        out, hits = textproc.scrub_text(t)
        scrubbed.append(out)
        for k in textproc.SCRUB_KINDS:
            counters[k].append(hits[k])
    data = {
        "text_ex": texts.reset_index(drop=True),
        "lang_pred": langs,
        "perplexity": ppls,
        "scrubbed_text": scrubbed,
    }
    data.update({f"hits_{k}": v for k, v in counters.items()})
    return pd.concat([pd.DataFrame(data), _stats_frame(texts)], axis=1)


def make_process_udfs(lm=None, langid_fn=None, ppl_fn=None):
    """THE model swap point: build the fused pipeline UDFs around
    injected models instead of the deterministic stand-ins.

    - ``lm``: a ``(logprob_dict, oov_logprob)`` pair, the shape
      :func:`textproc.lm_and_oov` returns — swap in a real KenLM-style
      table here (load it driver-side; the closure ships it to workers
      via cloudpickle, or broadcast it first for very large tables).
    - ``langid_fn``: ``text -> lang_code`` callable — swap in a real
      fastText ``model.predict`` wrapper here.  Must be picklable.
    - ``ppl_fn``: ``text -> float | None`` callable overriding the
      whole perplexity computation (takes precedence over ``lm``) —
      the hook for a full backoff LM like
      :class:`~dqmtools_spark.functions.models.ArpaLM.text_perplexity`,
      whose scoring recursion doesn't fit the flat dict shape.

    Defaults (both ``None``) keep the lazy per-executor singletons, so
    nothing is shipped in the closure.  Returns
    ``(process_page_udf, process_text_udf)``.  The injection reaches
    the Python WORKERS (not just the driver) because the captured
    objects ride the serialized closure — asserted by
    ``tests/test_model_seam.py``.
    """

    @F.pandas_udf(_PROC_SCHEMA)
    def page_udf(html: pd.Series) -> pd.DataFrame:
        texts = html.map(textproc.extract_text)
        return _process_texts(texts, lm=lm, langid_fn=langid_fn, ppl_fn=ppl_fn)

    @F.pandas_udf(_PROC_SCHEMA)
    def text_udf(text: pd.Series) -> pd.DataFrame:
        return _process_texts(text, lm=lm, langid_fn=langid_fn, ppl_fn=ppl_fn)

    return page_udf, text_udf


# default instances — fused hot path: html -> (text, langid, perplexity,
# scrub, text stats) in ONE Arrow round-trip.  Chaining one UDF per
# step instead would ship the extracted text across the JVM<->Python
# boundary once per step; fusing them is the single biggest pipeline
# win.  process_text_udf is the pre-extracted-text form
# (reextract=False); text_ex passes through.
process_page_udf, process_text_udf = make_process_udfs()


def pii_hits_map_col(struct_col: str | None = None, prefix: str = "hits_") -> F.Column:
    """Build the map<string,long> hits column from the per-kind hit
    columns — flat ``hits_<kind>`` columns by default, or fields of a
    named struct column when ``struct_col`` is given."""
    base = f"{struct_col}." if struct_col else ""
    pairs = []
    for k in textproc.SCRUB_KINDS:
        pairs.append(F.lit(k))
        pairs.append(F.col(f"{base}{prefix}{k}"))
    return F.create_map(*pairs)
