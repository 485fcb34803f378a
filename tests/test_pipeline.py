"""Checkpoint manifest + exact resume (SURVEY.md §5.4): kill mid-pipeline,
restart, identical output, completed stages not recomputed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from featureengineer_spark.operators import with_rolling_counts, with_session_ids
from featureengineer_spark.operators.windows import default_rolling_predicates
from featureengineer_spark.plans import FeaturePipeline, read_manifest

KEY = ["conv_id", "ts", "turn_idx"]


def _build(spark, transcripts, root, fail_stage2=False):
    def stage2(df):
        if fail_stage2:
            raise RuntimeError("simulated mid-pipeline crash")
        return with_rolling_counts(df, default_rolling_predicates(), window=10)

    return (
        FeaturePipeline(spark, root=str(root))
        .source(lambda s: transcripts, fingerprint="fixture-v1")
        .stage("sessionized", lambda df: with_session_ids(df, idle_timeout_s=1800.0))
        .stage("rolling", stage2)
        .stage(
            "final",
            lambda df: df.withColumn(
                "text_len", F.coalesce(F.length("text"), F.lit(0)).cast("long")
            ),
        )
    )


def test_resume_after_crash(spark, transcripts, tmp_path):
    root = tmp_path / "ckpt"
    # first attempt crashes in stage 2: stage 1 committed, rest missing
    with pytest.raises(RuntimeError, match="simulated"):
        _build(spark, transcripts, root, fail_stage2=True).run()
    m1 = read_manifest(str(root), "sessionized")
    assert m1 is not None and m1.total_rows == transcripts.count()
    assert read_manifest(str(root), "rolling") is None

    # restart: stage 1 resumed (not recomputed), stages 2-3 computed
    pipe = _build(spark, transcripts, root)
    out = pipe.run()
    assert pipe.executed == ["rolling", "final"]

    # identical to a fresh, uncheckpointed run
    fresh = _build(spark, transcripts, tmp_path / "fresh").run()
    a = out.toPandas().sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = fresh.toPandas().sort_values(KEY, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
    )

    # a third run resumes everything
    pipe3 = _build(spark, transcripts, root)
    pipe3.run()
    assert pipe3.executed == []


def test_manifest_lineage_invalidation(spark, transcripts, tmp_path):
    root = tmp_path / "ckpt2"
    _build(spark, transcripts, root).run()
    # changing the source fingerprint invalidates every stage
    pipe = _build(spark, transcripts, root)
    pipe._source_fingerprint = "fixture-v2"
    pipe.run()
    assert pipe.executed == ["sessionized", "rolling", "final"]


def test_validate_reports_ok(spark, transcripts, tmp_path):
    root = tmp_path / "ckpt3"
    pipe = _build(spark, transcripts, root)
    pipe.run()
    report = pipe.validate()
    assert all(v["status"] == "ok" for v in report.values()), report

    # a lost part file no longer matches the manifest's per-file counts
    parts = sorted((root / "rolling" / "data").glob("part-*.parquet"))
    parts[0].unlink()
    report = pipe.validate()
    assert report["rolling"]["status"] == "corrupt", report
    assert report["rolling"]["actual_rows"] < report["rolling"]["expected_rows"]
    assert report["sessionized"]["status"] == report["final"]["status"] == "ok"


def test_rerun_after_crash_before_manifest_commit_recomputes(spark, tmp_path, monkeypatch):
    """A stage committed under config A, then overwritten by a config-B
    run that dies between its data write and its manifest commit, must
    not be served as A's output when A is rerun."""
    import featureengineer_spark.plans.pipeline as pipeline

    root = str(tmp_path / "stale")

    def build(offset, fp):
        return (
            FeaturePipeline(spark, root=root)
            .source(lambda s: s.range(3), fingerprint=fp)
            .stage("shifted", lambda df: df.select((F.col("id") + offset).alias("y")))
        )

    build(100, "config-a").run()

    def die(*_args, **_kwargs):
        raise RuntimeError("killed before manifest commit")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_partition_counts", die)
        with pytest.raises(RuntimeError, match="killed"):
            build(200, "config-b").run()

    pipe = build(100, "config-a")
    ys = sorted(r["y"] for r in pipe.run().collect())
    assert pipe.executed == ["shifted"]
    assert ys == [100, 101, 102]


def test_fingerprint_canonical_for_unordered_containers():
    """Sets digest in sorted order, so an equal config resumes under any
    PYTHONHASHSEED."""
    from featureengineer_spark.plans.pipeline import fingerprint
    from featureengineer_spark.plans.webcurate import (
        WebCurationConfig,
        web_curation_pipeline,
    )

    # enough members that hash order matching sorted order by chance is
    # negligible under any seed
    domains = {f"d{i:02d}.com" for i in range(12)}
    ordered = tuple(sorted(domains))
    assert fingerprint("s", ["p"], {"d": domains}) == fingerprint(
        "s", ["p"], {"d": ordered}
    )
    assert fingerprint("s", ["p"], {"d": frozenset(domains)}) == fingerprint(
        "s", ["p"], {"d": ordered}
    )
    assert fingerprint("s", ["p"], {"d": domains}) != fingerprint(
        "s", ["p"], {"d": ordered[1:]}
    )

    def source_fp(cfg):
        return web_curation_pipeline(None, None, "/unused", cfg)._source_fingerprint

    assert source_fp(WebCurationConfig(blocked_domains=domains)) == source_fp(
        WebCurationConfig(blocked_domains=ordered)
    )


def test_leakage_validator(spark, transcripts, anchors):
    from featureengineer_spark.operators import asof_join
    from featureengineer_spark.validation import assert_no_leakage, leakage_violations

    out = asof_join(transcripts, anchors, value_cols=["turn_idx", "role"])
    assert leakage_violations(out).count() == 0
    assert_no_leakage(out)


def test_spine_validator(spark, transcripts):
    from featureengineer_spark.validation import spine_violations

    assert spine_violations(transcripts).count() == 0
    # inject a duplicate turn_idx
    bad = transcripts.unionByName(transcripts.limit(1))
    v = spine_violations(bad).toPandas()
    assert len(v) > 0 and (v["violation"] == "duplicate_turn_idx").any()


def test_clustering_validator(spark, transcripts, tmp_path):
    from featureengineer_spark.validation import clustering_violations

    good = str(tmp_path / "good")
    transcripts.repartition(4, "conv_id").write.parquet(good)
    assert clustering_violations(spark.read.parquet(good)).count() == 0

    bad = str(tmp_path / "bad")
    transcripts.repartition(6).write.parquet(bad)  # round-robin splits convs
    assert clustering_violations(spark.read.parquet(bad)).count() > 0


def test_ivector_pipeline_end_to_end_and_resume(spark, tmp_path):
    """The 5-stage model pipeline (mpiMain graft): end-to-end run, then a
    re-run resumes EVERY stage from checkpoint (identical output, nothing
    recomputed); a config change recomputes only downstream stages."""
    import os

    import numpy as np

    from featureengineer_spark.data import synth_transcripts_spark
    from featureengineer_spark.plans.ivector import IVectorConfig, IVectorPipeline

    t = synth_transcripts_spark(spark, n_convs=60, seed=3)
    root = str(tmp_path / "iv")
    cfg = IVectorConfig(n_components=2, ubm_iters_per_stage=2, tv_rank=3, tv_iters=2)

    pipe = IVectorPipeline(spark, root, cfg)
    out1 = pipe.run(t).toPandas().sort_values("conv_id").reset_index(drop=True)
    assert pipe.executed == ["features", "ubm", "stats", "tv", "latent"]
    assert len(out1) == 60 and all(len(v) == 3 for v in out1["latent"])

    pipe2 = IVectorPipeline(spark, root, cfg)
    out2 = pipe2.run(t).toPandas().sort_values("conv_id").reset_index(drop=True)
    assert pipe2.executed == []  # full resume, nothing recomputed
    for a, b in zip(out1["latent"], out2["latent"]):
        np.testing.assert_allclose(np.array(a), np.array(b))

    # changing TV config must recompute tv + latent but resume the rest
    cfg3 = IVectorConfig(n_components=2, ubm_iters_per_stage=2, tv_rank=3, tv_iters=3)
    pipe3 = IVectorPipeline(spark, root, cfg3)
    pipe3.run(t)
    assert pipe3.executed == ["tv", "latent"]

    # manifest audit: all five stages committed and consistent
    report = pipe3.validate()
    assert all(v["status"] == "ok" for v in report.values()), report

    # a lost model file is reported, the other stages still audit clean
    os.remove(os.path.join(root, "tv", "model.npz"))
    report = pipe3.validate()
    assert report["tv"]["status"] == "corrupt", report
    assert all(v["status"] == "ok" for k, v in report.items() if k != "tv"), report


def test_ivector_pipeline_survives_sigkill(spark, tmp_path):
    """Hard-kill resume: a subprocess running the 5-stage pipeline is
    SIGKILLed mid-flight (no cleanup, possibly torn in-progress stage
    output); a resumed run must complete, re-executing only what the
    manifests do not attest, and produce EXACTLY the latents of an
    untouched fresh run — torn data must never be served as a
    checkpoint (manifests commit only after their stage's data)."""
    import os
    import signal
    import subprocess
    import sys
    import textwrap
    import time

    import numpy as np

    from featureengineer_spark.data import synth_transcripts_spark
    from featureengineer_spark.plans.ivector import IVectorConfig, IVectorPipeline

    root = str(tmp_path / "iv_kill")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repr(os.getcwd())})
        from featureengineer_spark import get_spark
        from featureengineer_spark.data import synth_transcripts_spark
        from featureengineer_spark.plans.ivector import IVectorConfig, IVectorPipeline
        spark = get_spark(master="local[4]")
        t = synth_transcripts_spark(spark, n_convs=400, seed=3)
        cfg = IVectorConfig(n_components=4, ubm_iters_per_stage=2, tv_rank=3, tv_iters=2)
        IVectorPipeline(spark, {repr(root)}, cfg).run(t).count()
        print("COMPLETED", flush=True)
    """)
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    # kill MID-FLIGHT by construction, not by a fixed sleep (a fixed
    # sleep goes flaky the moment the box runs the pipeline faster than
    # the sleep): wait until the first stage manifest commits, then kill
    # while the last stage's manifest is still absent — something
    # attested, something left to redo.
    first_m = os.path.join(root, "features", "manifest.json")
    last_m = os.path.join(root, "latent", "manifest.json")
    deadline = time.time() + 180
    while time.time() < deadline:
        if proc.poll() is not None:
            break  # completed before we could catch it mid-flight
        if os.path.exists(first_m) and not os.path.exists(last_m):
            break
        time.sleep(0.2)
    killed = proc.poll() is None and not os.path.exists(last_m)
    proc.send_signal(signal.SIGKILL)
    proc.wait()

    cfg = IVectorConfig(n_components=4, ubm_iters_per_stage=2, tv_rank=3, tv_iters=2)
    t = synth_transcripts_spark(spark, n_convs=400, seed=3)
    pipe = IVectorPipeline(spark, root, cfg)
    out = pipe.run(t).toPandas().sort_values("conv_id").reset_index(drop=True)
    assert len(out) == 400
    stage_order = ["features", "ubm", "stats", "tv", "latent"]
    assert pipe.executed == stage_order[len(stage_order) - len(pipe.executed):]
    if killed:  # the kill landed mid-run → something was left to redo
        assert pipe.executed, "kill landed mid-run but resume re-executed nothing"
    report = pipe.validate()
    assert all(v["status"] == "ok" for v in report.values()), report

    fresh = (
        IVectorPipeline(spark, str(tmp_path / "iv_fresh"), cfg)
        .run(t).toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(
        np.vstack(out["latent"].to_numpy()),
        np.vstack(fresh["latent"].to_numpy()),
        rtol=1e-9, atol=1e-12,
    )


def test_partition_clustering_violations_catch_intra_file_splits(spark, tmp_path):
    """The scale failure mode the file-level check cannot see: ONE file
    bigger than maxPartitionBytes splits into several scan partitions and
    a conversation crosses the split boundary. The partition-level
    validator must flag it; the same table read with a large
    maxPartitionBytes (one split per file) must pass."""
    import pytest
    from pyspark.sql import functions as F

    from featureengineer_spark.validation import (
        assert_clustered,
        clustering_violations,
        partition_clustering_violations,
    )

    path = str(tmp_path / "bigfile")
    # one conversation, one FILE, enough rows that tiny maxPartitionBytes
    # will split the file mid-conversation
    (
        spark.range(200_000)
        .select(
            F.lit("conv_big").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
        )
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)  # many row groups
        .mode("overwrite").parquet(path)
    )

    # per-read .option("maxPartitionBytes", …) is IGNORED by file-split
    # planning — only the session conf is consulted — so set the conf to
    # guarantee the split rather than relying on the bytesPerCore floor
    prev_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        split_read = spark.read.parquet(path)
        assert split_read.rdd.getNumPartitions() > 1  # file actually split
        # file-level check is blind to it…
        assert clustering_violations(split_read).count() == 0
        # …the partition-level check is not
        assert partition_clustering_violations(split_read).count() == 1
        with pytest.raises(AssertionError, match="spans multiple scan partitions"):
            assert_clustered(split_read)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_max)

    # one split per file: raise the open-cost floor above the file size
    # (maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore)))
    prev = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024 * 1024))
    try:
        whole_read = spark.read.parquet(path)
        assert partition_clustering_violations(whole_read).count() == 0
        assert_clustered(whole_read)
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev)
