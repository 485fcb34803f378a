"""PCA whitening + length norm vs numpy (jyh/Utils.py:369-404 graft),
and model checkpointing."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(9)
    a = rng.standard_normal((400, 6)) @ rng.standard_normal((6, 6)) + rng.standard_normal(6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in a[i]]) for i in range(len(a))],
        "id int, feature_vec array<double>",
    ).cache()
    return df, a


def test_whitening_matches_numpy(spark, vec_df):
    from featureengineer_spark.operators.whitening import apply_whitening, fit_whitener

    df, a = vec_df
    mean, w = fit_whitener(df)
    np.testing.assert_allclose(mean, a.mean(0), rtol=1e-8)

    got = apply_whitening(df, mean, w, length_norm=False).toPandas().sort_values("id")
    y = np.vstack(got["whitened"].to_numpy())
    exp = (a - a.mean(0)) @ w.T
    np.testing.assert_allclose(y, exp, rtol=1e-7, atol=1e-10)
    # whitened covariance ~ identity
    cov = np.cov(y, rowvar=False, ddof=0)
    np.testing.assert_allclose(cov, np.eye(6), atol=1e-6)


def test_length_norm(spark, vec_df):
    from featureengineer_spark.operators.whitening import apply_whitening, fit_whitener

    df, _ = vec_df
    mean, w = fit_whitener(df)
    got = apply_whitening(df, mean, w, length_norm=True).toPandas()
    norms = np.array([np.linalg.norm(v) for v in got["whitened"]])
    np.testing.assert_allclose(norms, 1.0, rtol=1e-9)


def test_model_save_load(tmp_path):
    from featureengineer_spark.kernels import FeatureModel, load_model, save_model

    m = FeatureModel()
    save_model(m, str(tmp_path / "model"))
    m2 = load_model(str(tmp_path / "model"))
    np.testing.assert_array_equal(m.proj, m2.proj)


def test_sphnorm_matches_numpy_iterations(spark, vec_df):
    """Spherical nuisance normalization = iterated (whiten, length-norm);
    each iteration must reproduce the numpy chain exactly."""
    from featureengineer_spark.operators.whitening import apply_sphnorm, fit_sphnorm

    df, x = vec_df
    params = fit_sphnorm(df, vec_col="feature_vec", n_iter=2)

    cur = x.copy()
    for it, (mean, w) in enumerate(params):
        # the fitted params must match a numpy fit on the CURRENT data
        np.testing.assert_allclose(mean, cur.mean(axis=0), rtol=1e-8, atol=1e-10)
        cov = np.cov(cur, rowvar=False, ddof=0)
        vals, vecs = np.linalg.eigh(cov)
        w_exp = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, 1e-8))) @ vecs.T
        np.testing.assert_allclose(w, w_exp, rtol=1e-6, atol=1e-8)
        y = (cur - mean) @ w.T
        norms = np.linalg.norm(y, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cur = y / norms

    out = apply_sphnorm(df, params, vec_col="feature_vec", out_col="sph")
    got = {r["id"]: np.array(r["sph"]) for r in out.selectExpr("id", "sph").collect()}
    for i in range(len(cur)):
        np.testing.assert_allclose(got[i], cur[i], rtol=1e-6, atol=1e-8)
    # geometry check: unit sphere, near-zero mean after 2 rounds
    assert abs(np.linalg.norm(cur, axis=1) - 1.0).max() < 1e-9
    assert np.abs(cur.mean(axis=0)).max() < 0.2
