"""Segmented mapInArrow featurizer vs pandas oracle — the allclose gate
at each (conv_id, ts) key (BASELINE.json:metric)."""

from __future__ import annotations

import numpy as np

from featureengineer_spark.kernels import FEATURE_DIM, featurize_fast
from featureengineer_spark.oracle import oracle_features

KEY = ["conv_id", "ts", "turn_idx"]


def test_feature_vec_allclose(spark, transcripts, transcripts_pdf):
    got = featurize_fast(transcripts).toPandas().sort_values(KEY, kind="mergesort")
    exp = oracle_features(transcripts_pdf).sort_values(KEY, kind="mergesort")
    assert len(got) == len(exp)
    gv = np.vstack(got["feature_vec"].to_numpy())
    ev = np.vstack(exp["feature_vec"].to_numpy())
    assert gv.shape == (len(exp), FEATURE_DIM)
    # numpy.allclose default tolerances — the BASELINE.json metric
    np.testing.assert_allclose(gv, ev, rtol=1e-5, atol=1e-8)
    # per-turn text-equality invariant under stable ordering: keys align
    np.testing.assert_array_equal(
        got["turn_idx"].to_numpy(), exp["turn_idx"].to_numpy()
    )


def test_featurize_deterministic_across_partitionings(spark, transcripts):
    a = featurize_fast(transcripts.repartition(3), partitions=3)
    a = a.toPandas().sort_values(KEY, kind="mergesort")
    b = featurize_fast(transcripts.repartition(17), partitions=17)
    b = b.toPandas().sort_values(KEY, kind="mergesort")
    np.testing.assert_allclose(
        np.vstack(a["feature_vec"].to_numpy()),
        np.vstack(b["feature_vec"].to_numpy()),
        rtol=1e-12,
    )


def test_featurize_fast_allclose(spark, transcripts, transcripts_pdf):
    got = featurize_fast(transcripts, partitions=7).toPandas().sort_values(KEY, kind="mergesort")
    exp = oracle_features(transcripts_pdf).sort_values(KEY, kind="mergesort")
    assert len(got) == len(exp)
    gv = np.vstack(got["feature_vec"].to_numpy())
    ev = np.vstack(exp["feature_vec"].to_numpy())
    np.testing.assert_allclose(gv, ev, rtol=1e-5, atol=1e-8)


def test_featurize_fast_small_batches_cross_batch_carry(spark, transcripts, transcripts_pdf):
    """Force tiny Arrow batches so the mega conversation spans many
    batches — exercises the carry-state path."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    whole = featurize_fast(transcripts, partitions=3).toPandas().sort_values(KEY, kind="mergesort")
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        got = featurize_fast(transcripts, partitions=3).toPandas().sort_values(KEY, kind="mergesort")
    finally:
        spark.conf.set(key, prev)
    exp = oracle_features(transcripts_pdf).sort_values(KEY, kind="mergesort")
    np.testing.assert_allclose(
        np.vstack(got["feature_vec"].to_numpy()),
        np.vstack(exp["feature_vec"].to_numpy()),
        rtol=1e-5, atol=1e-8,
    )
    # the carry resumes each running sum exactly: batch size is invisible
    np.testing.assert_allclose(
        np.vstack(got["feature_vec"].to_numpy()),
        np.vstack(whole["feature_vec"].to_numpy()),
        rtol=1e-12,
    )


def test_featurize_fast_clustered_allclose(spark, transcripts, transcripts_pdf, tmp_path):
    """clustered=True over a conv-bucketed store (no exchange) must match."""
    path = str(tmp_path / "clustered")
    transcripts.repartition(5, "conv_id").write.parquet(path)
    t = spark.read.parquet(path)
    got = featurize_fast(t, clustered=True).toPandas().sort_values(KEY, kind="mergesort")
    exp = oracle_features(transcripts_pdf).sort_values(KEY, kind="mergesort")
    assert len(got) == len(exp)
    np.testing.assert_allclose(
        np.vstack(got["feature_vec"].to_numpy()),
        np.vstack(exp["feature_vec"].to_numpy()),
        rtol=1e-5, atol=1e-8,
    )



def test_featurize_fast_same_plan_per_call(spark, transcripts):
    """Two calls on the same input and model build the same plan, so a
    plan-keyed memo (the heavy-key probe) or cache entry can hit; a
    different projection is a different plan."""
    from featureengineer_spark.kernels import FeatureModel

    a = featurize_fast(transcripts, clustered=True)
    b = featurize_fast(transcripts, clustered=True)
    assert a.semanticHash() == b.semanticHash()
    other = featurize_fast(transcripts, model=FeatureModel(proj=np.eye(FEATURE_DIM)), clustered=True)
    assert other.semanticHash() != a.semanticHash()

def test_learn_feature_model_whitens(spark, transcripts):
    """The data-learned FeatureModel must plug into featurize unchanged
    and produce identity-covariance features (decorrelation by
    construction)."""
    import numpy as np

    from featureengineer_spark.kernels import learn_feature_model

    model = learn_feature_model(transcripts)
    out = featurize_fast(transcripts, model=model)
    vecs = np.array([r["feature_vec"] for r in out.select("feature_vec").collect()])
    cov = np.cov(vecs, rowvar=False, ddof=0)
    np.testing.assert_allclose(cov, np.eye(vecs.shape[1]), atol=1e-6)
