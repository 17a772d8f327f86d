"""The workloads: input generation, timed plan and check.

Each ``run_*`` is one timed run: it reads its input through a fresh
DataFrame and returns once the result is collected or committed.  The
matching ``check_*`` runs afterwards, outside the timer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from dqmtools_spark.operators import dedup
from dqmtools_spark.pipeline import run_pipeline

import inputs
import oracle

# Input size per workload.  filter_stub's per-doc work outweighs its
# planning; near_dup's run stays mostly fixed job cost at any size whose
# warm-up and timed runs fit the benchmark's time budget (README.md).
DOCS = {"filter_stub": 4000, "near_dup": 2000}
# near_dup: share of the docs that are planted near-copies, and share
# that are copies of one hot source (the skewed LSH bucket)
DUP_SHARE = 0.2
HOT_CLUSTER_SHARE = 0.02


@dataclass
class Ctx:
    """One benchmark run's state: paths, session, inputs and oracle."""

    name: str
    seed: int
    docs: int
    root: str
    work: str
    tracer: object
    spark: object = None
    pages: object = None  # pandas frame of the generated input
    planted: dict = field(default_factory=dict)
    ref: object = None  # oracle output
    pages_path: str = ""
    _dirs: int = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")


# ------------------------------------------------------------------ inputs


def generate(ctx: Ctx) -> None:
    """Build the input frame from the seed and write it as parquet."""
    if ctx.name == "near_dup":
        ctx.pages, ctx.planted = inputs.near_dup_pages(
            ctx.seed, ctx.docs, DUP_SHARE, max(1, round(ctx.docs * HOT_CLUSTER_SHARE))
        )
    else:
        ctx.pages = inputs.filter_pages(ctx.seed, ctx.docs)
    ctx.pages_path = ctx.fresh_dir("pages")
    inputs.write_parquet(ctx.pages, ctx.pages_path)


def build_oracle(ctx: Ctx) -> None:
    if ctx.name == "filter_stub":
        ctx.ref = oracle.reference_labels(ctx.pages)


# ------------------------------------------------------------------ runs


def _run_filter(ctx: Ctx):
    t = ctx.tracer
    with t.span("sources.read_parquet"):
        pages = ctx.spark.read.parquet(ctx.pages_path)
    with t.span("pipeline.run_pipeline"):
        res, _ = run_pipeline(ctx.spark, pages)
        out = res.select(
            "url", "keep", "reasons", F.md5("scrubbed_text").alias("scrub_md5")
        )
    with t.span("collect"):
        return out.collect()


def _check_filter(ctx: Ctx, rows) -> oracle.Check:
    return oracle.check_labels(rows, ctx.ref)


def _run_near_dup(ctx: Ctx):
    t = ctx.tracer
    with t.span("sources.read_parquet"):
        docs = ctx.spark.read.parquet(ctx.pages_path).select("doc_id", "text")
    with t.span("dedup.minhash_lsh_pairs"):
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", eager=True)
    with t.span("dedup.drop_duplicate_clusters"):
        kept = dedup.drop_duplicate_clusters(docs, pairs, "doc_id")
    with t.span("collect"):
        ids = [r[0] for r in kept.select("doc_id").collect()]
    pairs.unpersist()
    return ids


def _check_near_dup(ctx: Ctx, ids) -> oracle.Check:
    return oracle.check_near_dup(ids, set(ctx.pages["doc_id"]), ctx.planted)


RUNS = {
    "filter_stub": (_run_filter, _check_filter),
    "near_dup": (_run_near_dup, _check_near_dup),
}


def run_once(ctx: Ctx):
    return RUNS[ctx.name][0](ctx)


def check(ctx: Ctx, result) -> oracle.Check:
    return RUNS[ctx.name][1](ctx, result)
