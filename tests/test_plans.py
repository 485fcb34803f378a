"""Physical-plan guards: the optimizations we rely on at 100 TB must be
visible in the executed plan, not assumed (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").filter(
        F.col("l_quantity") > 30
    ).select("l_orderkey", "l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan, plan


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(li)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan, plan


def test_small_dims_broadcast(spark):
    plan = _plan(entry.q_join_rollup(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_window_stack_single_exchange(spark):
    from bench import feature_pipeline

    t = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plan = _plan(feature_pipeline(t))
    assert plan.count("Exchange") == 1, plan


def test_asof_single_exchange_single_sort(spark):
    from featureengineer_spark.operators import asof_join

    t = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    a = spark.createDataFrame([], "conv_id string, anchor_ts timestamp")
    plan = _plan(asof_join(t, a, value_cols=["turn_idx", "role"]))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window [") == 1, plan


def test_featurize_fast_prunes_text_from_shuffle(spark):
    from featureengineer_spark.kernels import featurize_fast

    t = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plan = _plan(featurize_fast(t))
    # text feeds the pre-projection but must not appear in exchange output
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines and all("text#" not in l for l in exchange_lines), plan


def test_whole_stage_codegen_covers_window_stack(spark):
    from bench import feature_pipeline

    # AQE wraps the plan until first execution; disable it to see the
    # codegen spans statically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t = spark.createDataFrame(
            [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        plan = _plan(feature_pipeline(t))
        # '*(n)' prefixes mark whole-stage-codegen spans in plan text
        assert "*(" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_window_stack_bucketed_zero_exchange(spark, tmp_path):
    """Over a bucketed table (the bench/production layout) the entire
    window stack must be exchange-free: the bucketed scan's hash
    partitioning satisfies every per-conversation window's distribution,
    so only an in-partition sort remains."""
    from bench import feature_pipeline
    from featureengineer_spark.data import synth_transcripts_spark

    loc = str(tmp_path / "bucketed")
    t = synth_transcripts_spark(spark, n_convs=50)
    (
        t.repartition(4, "conv_id")
        .write.mode("overwrite")
        .bucketBy(4, "conv_id")
        .sortBy("conv_id", "ts", "turn_idx")
        .option("path", loc)
        .saveAsTable("plans_bucketed_build")
    )
    spark.sql("DROP TABLE IF EXISTS plans_bucketed")
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.read.parquet(loc).schema.fields
    )
    spark.sql(
        f"CREATE TABLE plans_bucketed ({ddl}) USING parquet "
        f"CLUSTERED BY (conv_id) SORTED BY (conv_id, ts, turn_idx) "
        f"INTO 4 BUCKETS LOCATION '{loc}'"
    )
    out = feature_pipeline(spark.table("plans_bucketed"))
    plan = _plan(out)
    assert plan.count("Exchange") == 0, plan
    assert "Bucketed: true" in plan, plan
    # and the results equal the plain (exchanged) pipeline's
    import pandas as pd

    key = ["conv_id", "ts", "turn_idx"]
    a = out.toPandas().sort_values(key).reset_index(drop=True)
    b = feature_pipeline(t).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])
    spark.sql("DROP TABLE IF EXISTS plans_bucketed")
    spark.sql("DROP TABLE IF EXISTS plans_bucketed_build")


def test_lsh_and_ivf_candidate_joins_never_cartesian(spark):
    """The scale-default approximate paths must bucket, not cross: no
    CartesianProduct / BroadcastNestedLoopJoin in the candidate plans."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from featureengineer_spark.operators.dedup import embedding_near_dups
    from featureengineer_spark.operators.similarity import ann_topk_ivf

    rng = np.random.default_rng(5)
    rows = [(i, (rng.standard_normal(16)).tolist()) for i in range(64)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema).cache()

    plan = _plan(embedding_near_dups(emb, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    q = emb.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = rng.standard_normal((4, 16))
    plan = _plan(ann_topk_ivf(emb, q, k=3, n_lists=4, centroids=cents))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_round4_doc_operators_never_cartesian(spark):
    """The round-4 document-pipeline operators must stay equi-join
    shaped: near-dup removal, contamination overlap, and the minhash
    candidate chain produce no CartesianProduct/BroadcastNestedLoopJoin
    at any plan node. Every near-dup pair generator runs on the one
    in-bucket pair kernel: exactly one MapInArrow node and no
    SortMergeJoin (no self-join) in its plan."""
    from pyspark.sql import functions as F

    from featureengineer_spark.operators.dedup import (
        embedding_near_dups,
        minhash_lsh_candidates,
        near_dedup_filter,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        simhash_near_dups,
    )
    from featureengineer_spark.operators.textstats import contamination_overlap
    from featureengineer_spark.operators.winnow import winnow_pairs

    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 9} with padding words") for i in range(60)],
        "doc_id long, text string",
    ).cache()
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "text"
    )
    emb = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.expr("transform(sequence(0, 7), j -> cos(doc_id % 9 + j))").alias("embedding"),
    )
    generators = {
        "minhash": minhash_lsh_candidates(docs),
        "ngram_jaccard": ngram_jaccard_pairs(docs, n=3, threshold=0.4),
        "simhash": simhash_near_dups(docs),
        "ngram_containment": ngram_containment_pairs(docs),
        "embedding": embedding_near_dups(emb, threshold=0.9),
        "winnow": winnow_pairs(docs),
    }
    plans = {
        "near_dedup_filter": near_dedup_filter(
            docs, ngram_jaccard_pairs(docs, n=3, threshold=0.4)
        ),
        "contamination": contamination_overlap(
            docs, bench, bench_id_col="bench_doc_id", n=4
        ),
        **generators,
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        if name in generators:
            assert plan.count("MapInArrow") == 1, (name, plan)
            assert "SortMergeJoin" not in plan, (name, plan)


def test_round5_curation_operator_plans(spark):
    """Round-5 operators' scale shapes, visible in the executed plan:
    shuffle_shards without positions is map-only (zero Exchange),
    token_budget_mix broadcasts the per-domain totals (no corpus-side
    SortMergeJoin), and the incremental ingest gate's store probe is an
    equi join, never cartesian."""
    from featureengineer_spark.operators.curation import (
        shuffle_shards,
        token_budget_mix,
    )
    from featureengineer_spark.operators.dedup import (
        band_store,
        near_dedup_incremental,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    plan = _plan(shuffle_shards(docs, 16, with_position=False))
    assert "Exchange" not in plan, plan  # pure map stage

    plan = _plan(
        token_budget_mix(
            docs, {"en": 10_000}, domain_col="lang", token_col="n_chars"
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    store = band_store(docs.limit(50), num_perm=16, bands=8)
    plan = _plan(
        near_dedup_incremental(docs.limit(50), store, num_perm=16, bands=8)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
