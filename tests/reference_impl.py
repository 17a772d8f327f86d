"""Pure-pandas reference labeler — the keep/drop + scrub oracle.

An independent, eager, single-process implementation of the pipeline
semantics (the role the original dqmtools plays: an eager pandas
dataflow).  The Spark pipeline must reproduce its keep/drop decisions
with F1 >= 0.99 and its scrubbed text byte-identically (BASELINE.json).

It shares only the canonical leaf functions in
``dqmtools_spark.functions.textproc`` (the byte-identical contract) and
the threshold constants; all *orchestration* (stats, rule application,
fold) is re-implemented here in plain Python/pandas.
"""

from __future__ import annotations

import re

import pandas as pd

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.textstats import ALL_MARKERS
from dqmtools_spark.rules.builtin import LANG_THRESHOLDS, THRESHOLDS

_LANG_THR = {row["lang_pred"]: row for row in LANG_THRESHOLDS}
_MARKERS = set(ALL_MARKERS)
# the stated token contract: whitespace is Java's \s, the six ASCII
# characters below, not str.split()'s Unicode whitespace (NBSP,
# U+001C..U+001F and U+2028 stay inside a token)
_WS = " \t\n\x0b\x0c\r"
_WS_RUN = re.compile("[" + re.escape(_WS) + "]+")
# a stop-word directly before one final line terminator still counts
# (Java's `$` matches before it)
_LINE_TERMINATORS = "\x85\u2028\u2029"


def _tokens(text: str) -> list[str]:
    return [t for t in _WS_RUN.split(text) if t]


def _stats(text: str) -> dict:
    toks = _tokens(text)
    n = len(toks)
    lines = [ln for ln in text.split("\n") if ln.strip(" ")]
    total_chars = len(text)
    symbols = sum(1 for ch in text if not (ch.isalnum() or ch in _WS))
    low_toks = _tokens(text.lower())
    nstop = sum(1 for t in low_toks if t in _MARKERS)
    if low_toks and text[-1] in _LINE_TERMINATORS and low_toks[-1][:-1] in _MARKERS:
        nstop += 1
    return {
        "word_count": n,
        "mean_word_len": (sum(len(t) for t in toks) / n) if n else None,
        "symbol_ratio": (symbols / total_chars) if total_chars else 0.0,
        "stopword_fraction": nstop / n if n else 0.0,
        "repeated_line_fraction": (
            1.0 - len(set(lines)) / len(lines) if lines else 0.0
        ),
        "alpha_word_fraction": (
            sum(1 for t in toks if any(c.isalpha() for c in t)) / n if n else 0.0
        ),
        "ellipsis_line_fraction": (
            sum(1 for ln in lines if ln.endswith("...") or ln.endswith("…"))
            / len(lines)
            if lines
            else 0.0
        ),
        "bullet_line_fraction": (
            sum(1 for ln in lines if ln.startswith(("- ", "* ", "• ")))
            / len(lines)
            if lines
            else 0.0
        ),
        "has_curly_brace": "{" in text,
    }


def label_pages(pages: pd.DataFrame) -> pd.DataFrame:
    """pages (url, html, ...) -> url, keep, reasons, scrubbed_text,
    lang_pred — eager reference semantics."""
    model, oov = textproc.lm_and_oov()
    t = THRESHOLDS
    out_rows = []
    for row in pages.itertuples(index=False):
        text = textproc.extract_text(bytes(row.html))
        lang = textproc.predict_lang(text)
        s = _stats(text)
        ppl = textproc.perplexity(text, model, oov)
        thr = _LANG_THR[lang]
        reasons = []
        if not (s["word_count"] >= t["min_word_count"]):
            reasons.append("min_word_count")
        if not (s["word_count"] <= t["max_word_count"]):
            reasons.append("max_word_count")
        if s["mean_word_len"] is None or not (
            t["min_mean_word_len"] <= s["mean_word_len"] <= t["max_mean_word_len"]
        ):
            reasons.append("mean_word_len")
        if not (s["symbol_ratio"] <= t["max_symbol_ratio"]):
            reasons.append("max_symbol_ratio")
        if not (s["repeated_line_fraction"] <= t["max_repeated_line_fraction"]):
            reasons.append("repeated_lines")
        if not (s["alpha_word_fraction"] >= t["min_alpha_word_fraction"]):
            reasons.append("alpha_words")
        if not (s["ellipsis_line_fraction"] <= t["max_ellipsis_line_fraction"]):
            reasons.append("ellipsis_lines")
        if not (s["bullet_line_fraction"] <= t["max_bullet_line_fraction"]):
            reasons.append("bullet_lines")
        if s["has_curly_brace"]:
            reasons.append("no_curly_braces")
        if not (s["stopword_fraction"] >= thr["thr_stopword_min"]):
            reasons.append("stopword_fraction")
        if ppl is None or not (ppl <= thr["thr_ppl_max"]):
            reasons.append("max_perplexity")
        scrubbed, hits = textproc.scrub_text(text)
        out_rows.append(
            {
                "url": row.url,
                "keep": len(reasons) == 0,
                "reasons": reasons,
                "scrubbed_text": scrubbed,
                "lang_pred": lang,
                "text_extracted": text,
                "pii_total": sum(hits.values()),
            }
        )
    return pd.DataFrame(out_rows)
