"""Canonical pure-Python text functions — the byte-identical contract.

Every transformation that must produce *byte-identical* output per url
(north rule) is defined ONCE here as a locale-free, version-pinned pure
function of the input bytes/str.  The Spark pipeline calls these from
inside vectorized pandas UDFs; the pytest reference implementation calls
the same functions from plain pandas.  Nothing here touches Spark.

Reference analog: the fragment decoders the reference delegates to
(``rawdatautils`` unpackers invoked from
``/root/reference/python/dqmtools/dataframe_creator.py:118-142``) — the
deterministic decode step between raw bytes and analyzable columns.
"""

from __future__ import annotations

import re
from itertools import filterfalse
from typing import NamedTuple

# --- HTML -> text extraction -------------------------------------------------
# Deliberately simple and fully deterministic: strip script/style blocks,
# strip tags, decode the handful of entities the synthesizer emits,
# collapse runs of spaces/tabs per line, drop blank lines.

_RE_SCRIPT = re.compile(rb"(?s)<(script|style)\b[^>]*>.*?</\1>")
_RE_TAG = re.compile(rb"<[^>]+>")
_ENTITIES = [
    (b"&amp;", b"&"),
    (b"&lt;", b"<"),
    (b"&gt;", b">"),
    (b"&quot;", b'"'),
    (b"&#39;", b"'"),
    (b"&nbsp;", b" "),
]
_RE_SPACES = re.compile(r"[ \t]+")


def extract_text(html: bytes | None) -> str | None:
    """Extract visible text from page bytes. Byte-identical contract."""
    if html is None:
        return None
    raw = _RE_SCRIPT.sub(b"", html)
    raw = _RE_TAG.sub(b" ", raw)
    for ent, rep in _ENTITIES:
        raw = raw.replace(ent, rep)
    s = raw.decode("utf-8", errors="replace")
    lines = []
    for line in s.split("\n"):
        line = _RE_SPACES.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


# --- PII / toxicity scrub ----------------------------------------------------
# Regexes are anchored to ASCII classes only (locale-free).  Order of
# application is part of the contract: email, phone, ssn, ipv4, toxicity.

PII_PATTERNS: list[tuple[str, re.Pattern[str], str]] = [
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    ("phone", re.compile(r"(?<!\d)(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}(?!\d)"), "<PHONE>"),
    ("ssn", re.compile(r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)"), "<SSN>"),
    ("ipv4", re.compile(r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)"), "<IP>"),
]

# Tiny deterministic stand-in lexicon (a real deployment swaps in a
# curated list; the plumbing — word-boundary match, counting, replace —
# is the engine part).
TOXICITY_LEXICON = ("frakking", "gorram", "smegging")
_RE_TOX = re.compile(
    r"\b(" + "|".join(TOXICITY_LEXICON) + r")\b", flags=re.IGNORECASE
)

SCRUB_KINDS = [name for name, _, _ in PII_PATTERNS] + ["toxicity"]


_RE_DIGIT = re.compile(r"\d")

# Cheap presence guards: a pattern whose REQUIRED characters are absent
# from the input cannot match, so its scan may be skipped.  Safe by
# construction: replacements only delete text and insert fixed tokens
# (all containing '<', none containing '@', digits, or lexicon words),
# so a skip decision made on the ORIGINAL text stays valid after
# earlier passes rewrite it — a skipped pass could only ever have found
# zero matches.  ~75% of web docs carry no PII at all; this turns five
# regex scans into one-or-two cheap C probes for them.


def scrub_text(text: str | None) -> tuple[str | None, dict[str, int]]:
    """Replace PII/toxic spans; return (scrubbed, per-kind hit counts).

    Application order (email, phone, ssn, ipv4, toxicity) is part of
    the byte-identical contract — each pass runs on the output of the
    previous one.  (A fused single-pass alternation is NOT equivalent:
    e.g. '(555) 123-4567@x.io' → sequential gives '(555) <EMAIL>',
    fused would give '<PHONE>@x.io'.)
    """
    hits: dict[str, int] = {k: 0 for k in SCRUB_KINDS}
    if text is None:
        return None, hits
    out = text
    has_digit = _RE_DIGIT.search(text) is not None
    for name, pat, repl in PII_PATTERNS:
        if name == "email":
            if "@" not in text:
                continue
        elif not has_digit:
            continue
        out, n = pat.subn(repl, out)
        hits[name] = n
    low = text.lower()
    if any(w in low for w in TOXICITY_LEXICON):
        out, n = _RE_TOX.subn("<TOX>", out)
        hits["toxicity"] = n
    return out, hits


def scrub_text_unguarded(text: str | None) -> tuple[str | None, dict[str, int]]:
    """Reference form without the presence guards — used by the
    property test that proves guard equivalence."""
    hits: dict[str, int] = {k: 0 for k in SCRUB_KINDS}
    if text is None:
        return None, hits
    out = text
    for name, pat, repl in PII_PATTERNS:
        out, n = pat.subn(repl, out)
        hits[name] = n
    out, n = _RE_TOX.subn("<TOX>", out)
    hits["toxicity"] = n
    return out, hits


# --- Language ID (fastText stand-in) ----------------------------------------
# Deterministic marker-token scorer: count hits from each language's
# marker set; CJK codepoints vote for zh.  Ties break by language code
# ascending.  Interface-compatible with swapping in a real fastText
# model inside the same pandas UDF.

LANG_MARKERS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the and of to in is that with for was are this have from not".split()
    ),
    "fr": frozenset(
        "le la les de et un une dans est pour que avec sur pas nous vous".split()
    ),
    "es": frozenset(
        "el los de y en que un una por con para es las del se como".split()
    ),
    "de": frozenset(
        "der die das und in den von zu mit ist für auf nicht eine als".split()
    ),
}

_TOKEN_RE = re.compile(r"[^\W\d_]+", flags=re.UNICODE)

# inverted marker index: token -> languages containing it (one dict
# lookup per token instead of four set probes)
_MARKER_LANGS: dict[str, tuple[str, ...]] = {}
for _lang in sorted(LANG_MARKERS):
    for _w in sorted(LANG_MARKERS[_lang]):
        _MARKER_LANGS[_w] = _MARKER_LANGS.get(_w, ()) + (_lang,)

# same codepoint range as the old per-char loop (0x4E00..0x9FFF), but
# counted by the C regex engine instead of a Python char loop
_CJK_RE = re.compile("[\u4e00-\u9fff]")


def langid_scores(text: str | None) -> dict[str, int]:
    """Marker-hit counts per language (zh scored on CJK codepoints)."""
    scores = {lang: 0 for lang in LANG_MARKERS}
    scores["zh"] = 0
    if not text:
        return scores
    lowered = text.lower()
    get = _MARKER_LANGS.get
    for tok in _TOKEN_RE.findall(lowered):
        langs = get(tok)
        if langs:
            for lang in langs:
                scores[lang] += 1
    scores["zh"] = len(_CJK_RE.findall(text))
    return scores


def predict_lang(text: str | None) -> str:
    scores = langid_scores(text)
    # max score, tie-break lang code ascending — deterministic.
    return min(sorted(scores), key=lambda l: (-scores[l], l))


# --- Perplexity (KenLM stand-in) ---------------------------------------------
# Unigram language model with add-one smoothing over a fixed vocabulary
# derived from the marker sets + synthesizer content words.  Fully
# deterministic; scored vectorized inside a pandas UDF.

_CONTENT_WORDS = (
    "data table scan join merge sort filter group query row column value "
    "stream batch window key hash part order spark vector customer line "
    "small big fast slow agg dup"
).split()


def build_unigram_model() -> dict[str, float]:
    """word -> log2 probability, add-one smoothed, deterministic."""
    import math

    vocab: dict[str, int] = {}
    for markers in LANG_MARKERS.values():
        for w in sorted(markers):
            vocab[w] = vocab.get(w, 0) + 8  # markers are frequent
    for w in _CONTENT_WORDS:
        vocab[w] = vocab.get(w, 0) + 4
    total = sum(vocab.values()) + len(vocab) + 1
    return {w: math.log2((c + 1) / total) for w, c in sorted(vocab.items())}


def lm_and_oov() -> tuple[dict[str, float], float]:
    """The (model, oov_log2p) pair; OOV sits 4 bits below the rarest word."""
    m = build_unigram_model()
    return m, min(m.values()) - 4.0


def perplexity(text: str | None, model: dict[str, float], oov: float) -> float | None:
    """2^(-mean log2 p) over whitespace tokens; None for empty text."""
    if not text:
        return None
    toks = text.lower().split()
    if not toks:
        return None
    lp = sum(model.get(t, oov) for t in toks) / len(toks)
    return float(2.0 ** (-lp))


# --- Gopher/C4 text statistics -----------------------------------------------
# The nine per-document signals the rule layer thresholds, computed in
# the fused UDF next to langid/perplexity/scrub.  The definitions are
# the JVM regex semantics the rules were tuned on:
#  - a token is a maximal run outside Java's ``\s``, the six ASCII
#    whitespace characters; NBSP, U+001C..U+001F and U+2028 are token
#    characters (``str.split()`` would split on them);
#  - lines are ``split('\n')`` with empty pieces kept; a line counts
#    when something other than spaces (Spark ``trim``) remains;
#  - letters are Unicode category L (``str.isalpha``), numbers category
#    N, both from this interpreter's ``unicodedata`` (Unicode 14.0.0 on
#    Python 3.11; Java 17's ``\p{L}``/``\p{N}`` are Unicode 13 and lack
#    525 of those code points);
#  - ratios divide the integer counts in double precision.

ALL_MARKERS = sorted(set().union(*LANG_MARKERS.values()))
_MARKER_SET = frozenset(ALL_MARKERS)

_JAVA_WS = " \t\n\x0b\f\r"
_WS_TOKEN_RE = re.compile(r"[^ \t\n\x0b\f\r]+")
# symbols are neither L|N (which is exactly str.isalnum, re's \w less
# '_') nor whitespace; '_' is counted separately
_SYMBOL_RE = re.compile(r"[^\w \t\n\x0b\f\r]")
# Java's ``$`` also matches before one final line terminator, so a
# marker token followed by one of these at the very end still counts
_FINAL_TERMINATORS = ("\x85", "\u2028", "\u2029")


class TextStats(NamedTuple):
    word_count: int | None
    mean_word_len: float | None
    symbol_ratio: float | None
    stopword_fraction: float | None
    repeated_line_fraction: float | None
    alpha_word_fraction: float | None
    ellipsis_line_fraction: float | None
    bullet_line_fraction: float | None
    has_curly_brace: bool | None


_NULL_STATS = TextStats(*[None] * len(TextStats._fields))


def text_stats(text: str | None) -> TextStats:
    """All nine statistics of one document (all None for None text)."""
    if text is None:
        return _NULL_STATS
    n_chars = len(text)
    tokens = _WS_TOKEN_RE.findall(text)
    wc = len(tokens)
    # lower() per token equals lower() of the whole text here: the only
    # context rule (final sigma) stops at whitespace and is never ASCII
    stop = sum(map(_MARKER_SET.__contains__, map(str.lower, tokens)))
    if wc and text.endswith(_FINAL_TERMINATORS) and tokens[-1][:-1].lower() in _MARKER_SET:
        stop += 1
    symbols = len(_SYMBOL_RE.findall(text)) + text.count("_")
    lines = [ln for ln in text.split("\n") if ln.strip(" ")]
    n_lines = len(lines)
    if wc:
        non_ws = n_chars - sum(map(text.count, _JAVA_WS))
        mean_len = non_ws / wc
        stop_frac = stop / wc
        letterless = sum(
            not any(map(str.isalpha, t)) for t in filterfalse(str.isalpha, tokens)
        )
        alpha_frac = (wc - letterless) / wc
    else:
        mean_len, stop_frac, alpha_frac = None, 0.0, 0.0
    if n_lines:
        repeated = 1.0 - len(set(lines)) / n_lines
        ellipsis = sum(ln.endswith(("...", "…")) for ln in lines) / n_lines
        bullets = sum(ln.startswith(("- ", "* ", "• ")) for ln in lines) / n_lines
    else:
        repeated = ellipsis = bullets = 0.0
    return TextStats(
        word_count=wc,
        mean_word_len=mean_len,
        symbol_ratio=symbols / n_chars if n_chars else 0.0,
        stopword_fraction=stop_frac,
        repeated_line_fraction=repeated,
        alpha_word_fraction=alpha_frac,
        ellipsis_line_fraction=ellipsis,
        bullet_line_fraction=bullets,
        has_curly_brace="{" in text,
    )
