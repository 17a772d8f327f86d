"""End-to-end quality pipeline: pages -> doc_results (+ metrics).

Two composable phases:

  PHASE 1 (Python, one fused Arrow stage):
    scan(url, warc_ts, html, lang)           -- column-pruned to html
      -> process_page_udf(html)              -- extract + langid +
                                                perplexity + scrub +
                                                the nine text stats in
                                                ONE Arrow round-trip
  PHASE 2 (JVM codegen, zero Python):
      -> broadcast join 5-row lang-threshold dim   (no shuffle)
      -> rule columns -> reasons/keep              (same codegen stage)
      -> write, repartitioned by part_key          (the ONLY shuffle)

The statistics are computed where the text already sits: as JVM
expressions they re-split every document per statistic and cost as
much as the whole Python stage.

``run_pipeline`` fuses both phases into one job (scan -> one narrow
Python stage -> codegen -> write).  ``run_pipeline_staged`` materializes
phase 1 to parquet between the phases — the reference's
write-dataframes-then-analyze flow (``scripts/write_dqm_dataframes.py``
-> ``dqm_analyzer.py``, SURVEY S6/S7): the decoded/scrubbed text and
its statistics are durable (resume re-reads them instead of
re-extracting), and each phase runs as a pure stage.  A pure Python
stage and a pure codegen stage each scale near-linearly with cores; the
fused stage interleaves both per task and is more sensitive to batch
pipelining (see bench.py), so the staged form is also what the scaling
benchmark exercises.

Rule metrics are a separate aggregation over the (cheap,
already-computed) boolean columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqmtools_spark.functions.textproc import TextStats
from dqmtools_spark.functions.udfs import (
    PROC_FIELD_NAMES,
    make_process_udfs,
    pii_hits_map_col,
    process_page_udf,
    process_text_udf,
)
from dqmtools_spark.rules.builtin import default_registry, join_lang_thresholds
from dqmtools_spark.rules.core import RuleBuildOutcome, RuleRegistry, evaluate_rules

DEFAULT_PART_BUCKETS = 64


def python_phase(
    df: DataFrame, reextract: bool = True, models: dict | None = None
) -> DataFrame:
    """PHASE 1: pages -> flat (url, warc_ts, lang, text_ex, lang_pred,
    perplexity, scrubbed_text, hits_*, the nine text stats) — all
    Python work of the pipeline, one fused Arrow stage, flattened so
    the result can be checkpointed to parquet as-is.

    ``reextract=True`` recomputes text from html (the byte-identical
    invariant path); False trusts the incoming ``text`` column.
    ``models`` injects real models through the swap point — a dict with
    optional keys ``lm`` and ``langid_fn`` passed to
    :func:`~dqmtools_spark.functions.udfs.make_process_udfs`.
    """
    if models:
        page_udf, text_udf = make_process_udfs(**models)
    else:
        page_udf, text_udf = process_page_udf, process_text_udf
    proc = page_udf(F.col("html")) if reextract else text_udf(F.col("text"))
    return df.select("url", "warc_ts", "lang", proc.alias("_proc")).select(
        "url", "warc_ts", "lang", *[F.col(f"_proc.{f}").alias(f) for f in PROC_FIELD_NAMES]
    )


def jvm_phase(
    processed: DataFrame,
    spark: SparkSession,
    n_buckets: int = DEFAULT_PART_BUCKETS,
) -> DataFrame:
    """PHASE 2a: attach partition key + per-lang thresholds — pure
    whole-stage-codegen expressions over phase-1 output (fresh from the
    UDF or re-read from a checkpoint), which already carries the stats.
    Raises when a stat column is missing: folding without one would
    degrade its rule to a WARNING and keep docs it should drop."""
    missing = [c for c in TextStats._fields if c not in processed.columns]
    if missing:
        raise ValueError(f"phase-1 output lacks stat columns {missing}")
    # deterministic partition key: hash-bucket of url (skew-free even
    # when one domain holds 30% of rows — url, not domain, is hashed)
    df = processed.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    return join_lang_thresholds(df, spark)


def enrich_pages(
    df: DataFrame,
    spark: SparkSession,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    models: dict | None = None,
) -> DataFrame:
    """pages -> pages + extracted text + lang_pred + stats + thresholds
    (both phases, fused into one job)."""
    return jvm_phase(
        python_phase(df, reextract=reextract, models=models),
        spark,
        n_buckets=n_buckets,
    )


def _fold_results(
    enriched: DataFrame, registry: RuleRegistry
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """PHASE 2b: rule columns -> reasons/keep -> doc_results."""
    evaluated, outcomes = evaluate_rules(enriched, registry)
    n_applied = max(len([o for o in outcomes if o.column is not None]), 1)
    # quality score: fraction of rules passed (diagnostic, not gate)
    score = (
        (F.lit(n_applied) - F.size(F.col("reasons"))).cast("double") / n_applied
    ).alias("quality_score")
    result = evaluated.select(
        F.col("url"),
        F.col("keep"),
        F.col("reasons"),
        F.col("scrubbed_text"),
        F.col("lang_pred"),
        score,
        pii_hits_map_col(prefix="hits_").alias("pii_hits"),
        F.col("part_key"),
    )
    return result, outcomes


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    registry: RuleRegistry | None = None,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    models: dict | None = None,
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """Full per-document pipeline, one fused job; returns
    (doc_results, rule outcomes).  ``models`` swaps in real
    langid/perplexity models (see :func:`python_phase`)."""
    registry = registry or default_registry()
    enriched = enrich_pages(
        pages, spark, reextract=reextract, n_buckets=n_buckets, models=models
    )
    return _fold_results(enriched, registry)


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, so it works
    on any supported store (local, HDFS, s3a), not just the local FS."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def staged_checkpoint_complete(spark: SparkSession, checkpoint_path: str) -> bool:
    """True when the phase-1 checkpoint finished writing (Spark's
    ``_SUCCESS`` commit marker exists) and carries every phase-1 column.
    A checkpoint written before the text stats moved into phase 1 has
    the marker but not the stat columns, so it counts as incomplete."""
    if not _hadoop_path_exists(spark, checkpoint_path.rstrip("/") + "/_SUCCESS"):
        return False
    return set(PROC_FIELD_NAMES) <= set(spark.read.parquet(checkpoint_path).columns)


def run_pipeline_staged(
    spark: SparkSession,
    pages: DataFrame,
    checkpoint_path: str,
    registry: RuleRegistry | None = None,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    force: bool = False,
    models: dict | None = None,
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """Pipeline with the phase-1 output materialized to
    ``checkpoint_path`` (parquet) — the durable decoded-text checkpoint
    (SURVEY S6/S7).  Returns the same (doc_results, outcomes) contract;
    the returned DataFrame reads from the checkpoint, so downstream
    actions never re-run the Python stage.

    Resumability: when the checkpoint is already complete (``_SUCCESS``
    marker and every phase-1 column), phase 1 is SKIPPED entirely — a
    re-submitted job goes straight to the cheap JVM phase, which is the
    point of the durable checkpoint.  A half-written checkpoint (no
    marker after a mid-write kill) or one from an older schema is
    rewritten.  Pass ``force=True`` when the INPUT
    changed and the checkpoint must be rebuilt despite being complete.
    """
    registry = registry or default_registry()
    if force or not staged_checkpoint_complete(spark, checkpoint_path):
        python_phase(
            pages, reextract=reextract, models=models
        ).write.mode("overwrite").parquet(checkpoint_path)
    processed = spark.read.parquet(checkpoint_path)
    enriched = jvm_phase(processed, spark, n_buckets=n_buckets)
    return _fold_results(enriched, registry)


def rule_metrics(evaluated: DataFrame, prefix: str = "pass_") -> DataFrame:
    """Docs in/out per rule per language — the counters the north rule
    requires; cube() gives per-lang, per-rule, and grand totals in one
    shuffle (the reference's nested suite summaries, SURVEY §2.5)."""
    pass_cols = [c for c in evaluated.columns if c.startswith(prefix)]
    aggs = [F.count(F.lit(1)).alias("docs_in"), F.count_if(F.col("keep")).alias("docs_out")] + [
        F.count_if(~F.col(c)).alias(f"fail_{c[len(prefix):]}") for c in pass_cols
    ]
    return evaluated.cube("lang_pred").agg(*aggs)


def rule_metrics_from_results(doc_results: DataFrame, rule_names: list[str]) -> DataFrame:
    """Same metrics cube as :func:`rule_metrics`, computed from the
    WRITTEN ``doc_results`` table instead of the live evaluated frame:
    a rule's failure is recorded in the ``reasons`` array, so
    ``fail_<rule> = count_if(array_contains(reasons, rule))``.

    This is how the job CLI derives counters — one cheap codegen scan
    of the output parquet, instead of re-running the fused Python phase
    over the raw input a second time (which would double the dominant
    cost at the 100 TB design point).
    """
    aggs = [
        F.count(F.lit(1)).alias("docs_in"),
        F.count_if(F.col("keep")).alias("docs_out"),
    ] + [
        F.count_if(F.array_contains(F.col("reasons"), name)).alias(f"fail_{name}")
        for name in rule_names
    ]
    return doc_results.cube("lang_pred").agg(*aggs)
