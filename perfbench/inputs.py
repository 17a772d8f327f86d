"""Deterministic benchmark inputs: pages tables written as parquet.

Every input is a pure function of ``(seed, docs)``.  Pages come from
``dqmtools_spark.synth.gen_page``; the near-duplicate corpus adds
planted near-copies of some of those pages.  Files are written with
pyarrow in a fixed layout (``N_FILES`` part files, one row group each),
so the same seed gives byte-identical files and the scan has several
input splits instead of one.
"""

from __future__ import annotations

import os
import random
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dqmtools_spark.functions.textproc import extract_text
from dqmtools_spark.synth import gen_page

N_FILES = 8

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_PARAGRAPH = re.compile(rb"<p>(.*?)</p>", re.S)
# a near-copy substitutes this share of its words: 3-word shingle
# Jaccard to the source stays near 0.89, above the 0.8 verify threshold
_EDIT_SHARE = 0.02
# only pages with at least this many words are copied, so one edit
# never moves a short page below the threshold
_MIN_COPY_WORDS = 100


def filter_pages(seed: int, docs: int) -> pd.DataFrame:
    """Synthetic pages ``0..docs-1`` of ``seed`` with a ``doc_id``."""
    rows = [dict(gen_page(seed, i), doc_id=i) for i in range(docs)]
    return pd.DataFrame(rows, columns=SCHEMA.names)


def _near_copy(page: dict, rng: random.Random, doc_id: int) -> dict:
    """``page`` with ``_EDIT_SHARE`` of its paragraph words replaced by
    fresh tokens, under a new url and id."""
    html = page["html"]
    spans = [m.span(1) for m in _PARAGRAPH.finditer(html)]
    slots = [
        (i, j)
        for i, (a, b) in enumerate(spans)
        for j in range(len(html[a:b].split(b" ")))
    ]
    n_edits = max(1, round(len(page["text"].split()) * _EDIT_SHARE))
    edits: dict[int, set[int]] = {}
    for i, j in rng.sample(slots, min(n_edits, len(slots))):
        edits.setdefault(i, set()).add(j)
    parts, last = [], 0
    for i, (a, b) in enumerate(spans):
        words = html[a:b].split(b" ")
        for j in edits.get(i, ()):
            words[j] = "".join(rng.choices("bcdfghjklmnpqrstvwxz", k=8)).encode()
        parts += [html[last:a], b" ".join(words)]
        last = b
    parts.append(html[last:])
    new_html = b"".join(parts)
    return dict(
        page,
        doc_id=doc_id,
        url=f"{page['url']}/copy{doc_id}",
        html=new_html,
        text=extract_text(new_html),
    )


def near_dup_pages(
    seed: int, docs: int, dup_share: float, hot_cluster: int
) -> tuple[pd.DataFrame, dict[int, int]]:
    """``docs`` pages of which ``round(docs * dup_share)`` are planted
    near-copies; ``hot_cluster`` of the copies share one source.

    Copies get ids above every source id, so keeping the smallest id
    per cluster keeps exactly the sources.  Returns the frame and the
    planted ``copy_id -> source_id`` map.
    """
    n_copies = round(docs * dup_share)
    n_base = docs - n_copies
    base = [dict(gen_page(seed, i), doc_id=i) for i in range(n_base)]
    eligible = [p["doc_id"] for p in base if len(p["text"].split()) >= _MIN_COPY_WORDS]
    rng = random.Random(f"near_dup/{seed}")
    hot = min(hot_cluster, n_copies)
    sources = rng.sample(eligible, min(len(eligible), n_copies - hot + 1))
    plan = [sources[0]] * hot + sources[1:]
    plan += [rng.choice(eligible) for _ in range(n_copies - len(plan))]
    copies = [_near_copy(base[src], rng, n_base + k) for k, src in enumerate(plan)]
    planted = {n_base + k: src for k, src in enumerate(plan)}
    return pd.DataFrame(base + copies, columns=SCHEMA.names), planted


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write ``pdf`` as ``N_FILES`` single-row-group parquet files."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)
    step = -(-len(pdf) // N_FILES)
    for k in range(N_FILES):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
