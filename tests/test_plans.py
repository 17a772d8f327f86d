"""Physical-plan audits: assert the scale properties a human checks
with .explain('formatted') — filters pushed to the scan, small dims
broadcast, no row-at-a-time Python, no surprise shuffles.

These tests pin the 100 TB story: a plan regression (broadcast falling
back to sort-merge, a UDF blocking pushdown, an extra exchange) fails
CI even though results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dqmtools_spark.plans.audit import explain_str, plan_audit


def test_pipeline_plan_one_python_stage_no_shuffle(spark):
    """The per-doc pipeline must be: scan -> ONE fused Arrow stage ->
    codegen rules -> broadcast threshold join.  Zero shuffle exchanges
    (the only exchange in production is the partitioned write)."""
    from dqmtools_spark.pipeline import run_pipeline
    from dqmtools_spark.synth import synth_pages

    pages = synth_pages(spark, 50, seed=1)
    result, _ = run_pipeline(spark, pages)
    audit = plan_audit(result)
    assert audit["row_python_evals"] == 0, "row-at-a-time Python in hot path"
    assert audit["shuffle_exchanges"] == 0, "unexpected shuffle in per-doc path"
    assert audit["broadcast_joins"] >= 1, "lang-threshold dim not broadcast"
    import re

    plan = explain_str(result)
    # the fused UDF keeps Python crossings to a single ArrowEvalPython
    # node (formatted mode prints each node twice: tree + detail, so
    # match the tree form "ArrowEvalPython (n)")
    assert len(re.findall(r"ArrowEvalPython \(\d+\)", plan)) == 1, "UDFs not fused"
    # the text stats ride the fused UDF: no per-row JVM regex matches
    # (Spark rewrites regexp_count to size(regexp_extract_all(...)))
    # and no line/token splitting in the plan
    assert "regexp_extract_all" not in plan, "text stats back in JVM regexes"
    assert "split(" not in plan, "text stats back in JVM splits"


def test_broadcast_dim_join_stays_broadcast(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["broadcast_dim_join"](spark, sf_dir)
    audit = plan_audit(df)
    assert audit["broadcast_joins"] >= 2
    assert audit["sort_merge_joins"] == 0


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    # column pruning: scan schema must not include unprojected columns
    assert "l_comment" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_relational_queries_are_pure_jvm(spark, sf_dir):
    """SURVEY §2 relational operators must not touch Python at all."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("pricing_summary", "multi_join_agg", "latest_per_key",
                 "group_mode", "quality_keep_summary", "desparsify_check"):
        audit = plan_audit(qs[name](spark, sf_dir))
        assert audit["python_evals"] == 0, f"{name} uses Python"


def test_round3_ops_plan_shapes(spark, sf_dir):
    """Round-3 operators: pure JVM, bounded exchanges, and — the one
    that matters for as-of — NO join node at all (the union+window
    construction must never degrade to a range/nested-loop join)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {  # max shuffle exchanges per plan
        "asof_latest_click": 2,      # clicks pre-dedup + the key exchange
        "event_sessions": 1,         # window + session agg share one
        "url_canon_dedup": 1,
        "doc_dup_line_fraction": 2,  # (doc,line) then (doc)
        "stratified_sample": 1,
    }
    for name, budget in budgets.items():
        audit = plan_audit(qs[name](spark, sf_dir))
        assert audit["python_evals"] == 0, f"{name} uses Python"
        assert audit["shuffle_exchanges"] <= budget, f"{name}: {audit}"
        if name == "asof_latest_click":
            assert audit["broadcast_joins"] == 0
            assert audit["sort_merge_joins"] == 0
            plan = explain_str(qs[name](spark, sf_dir))
            assert "NestedLoop" not in plan and "Cartesian" not in plan
    # blocked fuzzy join: candidates come from a block EQUI-join (the
    # id/dist predicates ride it as join filters), never a cartesian
    fuzzy = explain_str(qs["fuzzy_prefix_pairs"](spark, sf_dir))
    assert "Cartesian" not in fuzzy and "BroadcastNestedLoop" not in fuzzy
    # bucketized range join: the whole point is avoiding the
    # nested-loop a raw BETWEEN predicate would produce
    rj = explain_str(qs["range_interval_join"](spark, sf_dir))
    assert "Cartesian" not in rj and "BroadcastNestedLoop" not in rj


def test_salted_agg_two_exchanges_max(spark, sf_dir):
    """Two-phase salted aggregation: partials shuffle on (key, salt),
    merge shuffles on key — no third exchange."""
    from dqmtools_spark.operators.skew import salted_agg

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = salted_agg(d, ["source"], {"n": ("count", "*")}, unit_col="doc_id")
    audit = plan_audit(out)
    assert audit["shuffle_exchanges"] <= 2


def test_minhash_banded_join_not_cartesian(spark, sf_dir):
    """The LSH candidate join must be an equi-join on (band, bucket) —
    never a cartesian/broadcast-nested-loop over all pairs."""
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", persist_shingles=False)
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_staged_jvm_phase_is_pure_codegen(spark, tmp_path):
    """Phase 2 of the staged pipeline (stats + rules from the text
    checkpoint) must contain ZERO Python evals — that is the property
    that lets rules re-run without re-extracting at 100 TB."""
    from dqmtools_spark.pipeline import _fold_results, jvm_phase, python_phase
    from dqmtools_spark.rules.builtin import default_registry
    from dqmtools_spark.synth import synth_pages

    ckpt = str(tmp_path / "ck")
    python_phase(synth_pages(spark, 50, seed=2)).write.parquet(ckpt)
    enriched = jvm_phase(spark.read.parquet(ckpt), spark)
    result, _ = _fold_results(enriched, default_registry())
    audit = plan_audit(result)
    assert audit["python_evals"] == 0
    assert audit["shuffle_exchanges"] == 0
    assert audit["broadcast_joins"] >= 1


def test_minhash_md5_banded_join_not_cartesian(spark, sf_dir):
    """The oracle-checkable MinHash tier keeps the same join shape:
    equi-join on (band, signature slice) — never all-pairs."""
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs_md5

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs_md5(d, "text", "doc_id")
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_md5_banded_join_not_cartesian(spark, sf_dir):
    from dqmtools_spark.functions.hashing import md5_hash60
    from dqmtools_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = simhash_pairs(d, "text", "doc_id", max_hamming=6, n_bits=60,
                          token_hash=md5_hash60)
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_int_lsh_dup_pairs_bucket_equijoin(spark, sf_dir):
    """Integer-plane embedding dedup: candidates come from a bucket
    equi-join (one ArrowEvalPython for the bucket UDF, no cartesian)."""
    import re

    from dqmtools_spark.operators.similarity import (
        embedding_cosine_pairs_int,
        int_planes,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_cosine_pairs_int(
        e, "embedding", "vec_id", int_planes(64, 6), threshold=0.35
    )
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    audit = plan_audit(pairs)
    assert audit["row_python_evals"] == 0


def test_int_bucket_expr_matches_pandas_udf(spark, sf_dir):
    """The JVM-expression bucket twin must equal the numpy path exactly
    (both are exact integer arithmetic)."""
    from dqmtools_spark.operators.similarity import (
        build_int_ann_index,
        int_bucket_expr,
        int_planes,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    planes = int_planes(64, 5)
    via_udf = {r["vec_id"]: r["bucket"]
               for r in build_int_ann_index(e, "embedding", planes).collect()}
    via_expr = {r["vec_id"]: r["bucket"]
                for r in e.select(
                    "vec_id",
                    int_bucket_expr(F.col("embedding"), planes).alias("bucket"),
                ).collect()}
    assert via_udf == via_expr


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilters
    entry (pruned at planning, no data files of other partitions
    touched) — the mechanism SCALE.md's partitioned sinks rely on."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "bylang")
    docs.write.partitionBy("lang").parquet(out)
    q = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    plan = explain_str(q)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "lang" in seg and "en" in seg
    # the non-partition residue is empty: nothing re-checked per row
    # (assert on the plan, not counts — counts can't see a pruning
    # regression that degrades to a correct post-scan filter; Spark
    # omits the DataFilters line entirely when the residue is empty)
    if "DataFilters: [" in plan:
        dseg = plan.split("DataFilters: [")[1].split("]")[0]
        assert dseg.strip() == "", f"unexpected DataFilters residue: {dseg}"
    assert plan.count("Filter") == plan.count("PartitionFilters"), (
        "post-scan Filter node present — pruning degraded"
    )
    assert q.count() == docs.filter(F.col("lang") == "en").count()
