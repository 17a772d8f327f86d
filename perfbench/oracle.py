"""Correctness oracles, computed outside Spark and outside every timer.

``filter_stub`` is checked against the independent pandas labeler
``tests/reference_impl.label_pages``;
``near_dup`` against the pairs its generator planted.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from tests.reference_impl import label_pages


def md5_hex(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def reference_labels(pages: pd.DataFrame) -> pd.DataFrame:
    """url-indexed keep / reasons / scrub_md5 / pii_total expected for
    ``pages``."""
    ref = label_pages(pages)
    return pd.DataFrame(
        {
            "keep": ref["keep"].to_numpy(),
            "reasons": [tuple(r) for r in ref["reasons"]],
            "scrub_md5": [md5_hex(t) for t in ref["scrubbed_text"]],
            "pii_total": ref["pii_total"].to_numpy(),
        },
        index=ref["url"],
    )


def f1(predicted: set, expected: set) -> float:
    """F1 of a predicted positive set against the expected one."""
    tp = len(predicted & expected)
    if not tp:
        return 0.0
    precision, recall = tp / len(predicted), tp / len(expected)
    return 2 * precision * recall / (precision + recall)


@dataclass
class Check:
    ok: bool
    keep_f1: float
    detail: str
    dup_recall: float | None = None


def check_labels(rows: list, ref: pd.DataFrame) -> Check:
    """Per-doc check of ``(url, keep, reasons, scrub_md5)`` rows: the
    row count and url set match, keep F1 >= 0.99, and reasons and
    scrubbed text are identical for every doc (the repo's contract)."""
    got = {r[0]: (bool(r[1]), tuple(r[2] or ()), r[3]) for r in rows}
    keep_f1 = f1(
        {u for u, g in got.items() if g[0]}, set(ref.index[ref["keep"].to_numpy()])
    )
    problems = []
    if len(rows) != len(ref) or set(got) != set(ref.index):
        problems.append(f"rows {len(rows)} != {len(ref)} or url sets differ")
    common = [u for u in ref.index if u in got]
    bad_reasons = sum(got[u][1] != ref.at[u, "reasons"] for u in common)
    bad_scrub = sum(got[u][2] != ref.at[u, "scrub_md5"] for u in common)
    if bad_reasons:
        problems.append(f"{bad_reasons} docs with other reasons")
    if bad_scrub:
        problems.append(f"{bad_scrub} docs with other scrubbed text")
    if keep_f1 < 0.99:
        problems.append(f"keep F1 {keep_f1:.4f} < 0.99")
    return Check(not problems, keep_f1, "; ".join(problems) or "ok")


def check_near_dup(kept_ids: list[int], all_ids: set[int], planted: dict[int, int]) -> Check:
    """The kept set against the planted copies: dup recall >= 0.95 and
    at most 1% of the removed docs outside the planted copies."""
    kept = set(kept_ids)
    removed = all_ids - kept
    copies = set(planted)
    dup_recall = len(removed & copies) / len(copies) if copies else 1.0
    keep_f1 = f1(kept, all_ids - copies)
    false_drops = len(removed - copies)
    problems = []
    if len(kept) != len(kept_ids):
        problems.append("duplicate ids in the result")
    if dup_recall < 0.95:
        problems.append(f"dup recall {dup_recall:.4f} < 0.95")
    if false_drops > 0.01 * max(len(removed), 1):
        problems.append(f"{false_drops} docs removed that are no planted copy")
    return Check(not problems, keep_f1, "; ".join(problems) or "ok", dup_recall)
