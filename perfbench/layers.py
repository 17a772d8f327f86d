"""Per-layer probes for the traced run.

Each probe calls one layer's public functions from outside the package
on the workload's own input, forces the result, and times the call
inside a span.  Counters come from the SQL metrics of the probe's own
executed plan, from the output directory, or from a grouping of the
layer's public outputs -- never from code inside the package.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from dqmtools_spark.functions import models as real_models
from dqmtools_spark.functions import textproc, textstats
from dqmtools_spark.operators import dedup
from dqmtools_spark.pipeline import (
    DEFAULT_PART_BUCKETS,
    jvm_phase,
    python_phase,
    rule_metrics_from_results,
    run_pipeline_staged,
)
from dqmtools_spark.rules.builtin import default_registry
from dqmtools_spark.rules.core import evaluate_rules
from dqmtools_spark.sources.checkpoint import CheckpointedRun
from dqmtools_spark.sources.tables import read_table

from workloads import Ctx

LANGID_MODEL = "artifacts/langid_synth.bin"
ARPA_MODEL = "artifacts/webtext_en_3gram.arpa.gz"
SAMPLE_DOCS = 200
REPEATS = 3
LSH_HASHES, LSH_BANDS, SHINGLE_N = 32, 8, 3  # minhash_lsh_pairs defaults


def force(df):
    """Evaluate every column of ``df`` through one xor-of-hashes
    aggregate; returns the collected frame, whose executed plan holds
    the SQL metrics."""
    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]  # maps are not hashable; their entry arrays are
    agg = df.select(F.xxhash64(*cols).alias("_h")).agg(
        F.count(F.lit(1)), F.bit_xor("_h")
    )
    agg.collect()
    return agg


def plan_nodes(spark, df):
    """(class name, metrics, depth) of every physical node that ran for
    ``df``, through adaptive plans, query stages and cached relations;
    a node reached twice is listed once."""
    seen, out = set(), []
    identity = spark.sparkContext._jvm.System.identityHashCode

    def walk(node, depth):
        key = identity(node)
        if key in seen:
            return
        seen.add(key)
        cls = node.getClass().getSimpleName()
        metrics, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((cls, metrics, depth))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan(), depth + 1)
        elif cls.endswith("QueryStageExec"):
            walk(node.plan(), depth + 1)
        elif cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan(), depth + 1)
        kids = node.children().iterator()
        while kids.hasNext():
            walk(kids.next(), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def _timed(tracer, name, fn):
    with tracer.span(name) as s:
        value = fn()
    return s["end"] - s["start"], value


def _per_doc_us(fn, items, passes=3):
    """Median over ``passes`` of the mean per-item time of ``fn``."""
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(times)


def _dir_files(path):
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def spark_layers(ctx: Ctx) -> dict:
    spark, t, read = ctx.spark, ctx.tracer, ctx.spark.read.parquet
    m: dict[str, float] = {}

    # python_phase_s is a difference of two short probes: take the
    # median of REPEATS of each so one slow job does not decide it
    scan_s = statistics.median(
        _timed(t, "sources.scan", lambda: force(read(ctx.pages_path)))[0]
        for _ in range(REPEATS)
    )
    py = [
        _timed(
            t,
            "pipeline.python_phase",
            lambda: force(python_phase(read(ctx.pages_path))),
        )
        for _ in range(REPEATS)
    ]
    m["sources.scan_s"] = scan_s
    m["pipeline.python_phase_s"] = statistics.median(s for s, _ in py) - scan_s
    agg = py[-1][1]
    arrow = [mt for cls, mt, _ in plan_nodes(spark, agg) if cls == "ArrowEvalPythonExec"]
    py = {k: sum(mt.get(k, 0) for mt in arrow) for k in (
        "pythonBootTime", "pythonInitTime", "pythonTotalTime",
        "pythonDataSent", "pythonDataReceived",
    )}
    m["python.boot_s"] = py["pythonBootTime"] / 1e3
    m["python.init_s"] = py["pythonInitTime"] / 1e3
    m["python.total_s"] = py["pythonTotalTime"] / 1e3
    m["python.bytes_sent"] = py["pythonDataSent"]
    m["python.bytes_received"] = py["pythonDataReceived"]

    ckpt = ctx.fresh_dir("probe-phase1")
    with t.span("untimed.phase1_checkpoint"):
        python_phase(read(ctx.pages_path)).write.parquet(ckpt)

    def staged():  # phase 1 is skipped: the checkpoint is complete
        return run_pipeline_staged(spark, read(ctx.pages_path), ckpt)

    m["pipeline.jvm_phase_s"], _ = _timed(
        t, "pipeline.jvm_phase", lambda: force(staged()[0])
    )

    for name, col in textstats.all_stats(F.col("text_ex")).items():
        m[f"textstats.{name}_s"], _ = _timed(
            t, f"textstats.{name}", lambda: force(read(ckpt).select(col.alias(name)))
        )

    stats_path = ctx.fresh_dir("probe-stats")
    with t.span("untimed.stats_parquet"):
        jvm_phase(read(ckpt), spark).write.parquet(stats_path)
    m["rules.evaluate_rules_s"], _ = _timed(
        t,
        "rules.evaluate_rules",
        lambda: force(evaluate_rules(read(stats_path), default_registry())[0]),
    )

    res, outcomes = staged()
    run = CheckpointedRun(spark, ctx.fresh_dir("probe-out"))
    m["sources.checkpoint_write_s"], summary = _timed(
        t, "sources.checkpoint.run", lambda: run.run(res, DEFAULT_PART_BUCKETS)
    )
    # a resumed (skipped) write would report a fake fast time
    if summary["skipped"] or summary["docs_written"] != ctx.docs:
        raise RuntimeError(f"CheckpointedRun.run into a fresh directory returned {summary}")
    files, size = _dir_files(run.base)
    m["sources.files_written"] = files
    m["sources.bytes_written_per_doc"] = size / max(summary["docs_written"], 1)
    applied = [o.rule.name for o in outcomes if o.column is not None]
    m["pipeline.rule_metrics_s"], _ = _timed(
        t,
        "pipeline.rule_metrics_from_results",
        lambda: rule_metrics_from_results(read_table(spark, run.results_path), applied).collect(),
    )

    m.update(_dedup_layers(ctx))
    return m


def _dedup_layers(ctx: Ctx) -> dict:
    spark, t = ctx.spark, ctx.tracer
    docs = spark.read.parquet(ctx.pages_path).select("doc_id", "text")
    m = {}
    m["dedup.lsh_pairs_s"], pairs = _timed(
        t,
        "dedup.minhash_lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id", eager=True),
    )
    nodes = plan_nodes(spark, pairs)
    joins = [(depth, mt) for cls, mt, depth in nodes if "Join" in cls]
    # the band self-join is the deepest join; the verify joins sit above it
    m["dedup.candidate_pairs"] = max(joins, key=lambda j: j[0])[1]["numOutputRows"]
    m["shuffle.bytes_written"] = sum(
        mt.get("shuffleBytesWritten", 0) for cls, mt, _ in nodes if cls == "ShuffleExchangeExec"
    )
    m["dedup.verified_pairs"] = pairs.count()
    m["dedup.verify_yield"] = m["dedup.verified_pairs"] / max(m["dedup.candidate_pairs"], 1)
    m["dedup.components_s"], _ = _timed(
        t, "dedup.connected_components", lambda: dedup.connected_components(pairs).count()
    )
    m["dedup.drop_s"], _ = _timed(
        t,
        "dedup.drop_duplicate_clusters",
        lambda: dedup.drop_duplicate_clusters(docs, pairs, "doc_id").count(),
    )
    pairs.unpersist()

    with t.span("untimed.band_occupancy"):
        shingled = docs.select(
            "doc_id", dedup.word_shingle_hashes(F.col("text"), SHINGLE_N).alias("_sh")
        )
        sigs = dedup.minhash_signatures(shingled, "doc_id", "_sh", LSH_HASHES).filter(
            F.col("_sig").isNotNull()
        )
        rows = LSH_HASHES // LSH_BANDS
        bands = sigs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(F.slice("_sig", b * rows + 1, rows)).alias("val"),
                        )
                        for b in range(LSH_BANDS)
                    ]
                )
            ).alias("b")
        )
        m["dedup.max_bucket_rows"] = (
            bands.groupBy("b.band", "b.val").count().agg(F.max("count")).first()[0] or 0
        )
    return m


def python_layers(ctx: Ctx) -> dict:
    """Per-doc cost of the Python layer functions, single process, on
    the first ``SAMPLE_DOCS`` pages of the workload."""
    t = ctx.tracer
    htmls = list(ctx.pages["html"][:SAMPLE_DOCS])
    texts = [textproc.extract_text(h) for h in htmls]
    lm, oov = textproc.lm_and_oov()
    m = {}
    with t.span("functions.textproc"):
        m["functions.extract_us"] = _per_doc_us(textproc.extract_text, htmls)
        m["functions.langid_us"] = _per_doc_us(textproc.predict_lang, texts)
        m["functions.perplexity_us"] = _per_doc_us(
            lambda x: textproc.perplexity(x, lm, oov), texts
        )
        m["functions.scrub_us"] = _per_doc_us(textproc.scrub_text, texts)
    with t.span("models.load") as s:
        ft = real_models.load_fasttext_bin(os.path.join(ctx.root, LANGID_MODEL))
        arpa = real_models.load_arpa(os.path.join(ctx.root, ARPA_MODEL))
    m["models.load_s"] = s["end"] - s["start"]
    with t.span("models.score"):
        m["models.langid_cold_us"] = _per_doc_us(ft.predict, texts, passes=1)
        m["models.langid_us"] = _per_doc_us(ft.predict, texts)
        m["models.arpa_ppl_us"] = _per_doc_us(arpa.text_perplexity, texts)
    return m
